"""Query catalog part 13 (q186-q200): weighted multi-source
bounded-hop cheapest paths (Bellman-Ford supersteps over a kNN-pruned
graph), a
hash-deterministic Poisson-bootstrap confidence interval for the mean
(the one-pass resampling technique that makes uncertainty estimates
tractable at the 100 TB target), k-core peeling on the co-purchase
graph, ratio-to-overall seasonal indices with a seasonal-naive
backtest, Wilson-interval repeat-purchase ranking, and RFM quintile
segmentation, Pareto 80/20 revenue cutoffs, a join-key skew audit,
seasonal-adjusted median/MAD anomaly flags, leave-one-out target
encoding, a streaming Wilson conversion monitor, Holt linear-trend
forecasting, common-neighbor/Jaccard link prediction, and the
corpus-prep capstone (gate -> dedup -> split with conservation)
plus its chi-square stratification audit — all exact integer arithmetic until one final,
identically-phrased double expression, per the catalog's determinism
discipline.

Reference parity: the reference's graph/statistics surface stops at
per-group summaries (``batch_process/analyze.py``); everything here is
"beyond the reference" in SURVEY §2's sense — the routing, resampling,
and decomposition shapes a production pipeline needs at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_process_spark.operators.caching import memoized_persist
from batch_process_spark.queries import _events_stream, _q, _t

# ---------------------------------------------------------------------------
# q186: bounded-hop cheapest route over the weighted co-purchase graph
# ---------------------------------------------------------------------------

_SSSP_CAP = 2000  # same bounded subgraph knob as q151's BFS
_SSSP_HOPS = 4

_SSSP_DEG = 8
_SSSP_HUB_MOD = 250  # parts divisible by this are cost-0 hub seeds

# Weighted twin of q151's edge set: per (order, part) the minimal
# integer quantity; an edge's weight is the cheapest combined quantity
# over all shared orders; then each node keeps only its _SSSP_DEG
# cheapest out-neighbors (ties broken by neighbor id) — the k-NN-graph
# prune every graph-routing system applies before searching (a raw
# co-purchase graph degenerates toward a clique on small part
# catalogs: max degree 138 of 200 nodes at sf0.001, which makes the
# oracle's path recursion combinatorial). Exact BIGINT arithmetic.
_SSSP_EDGE_SQL = f"""
    dp AS (
      SELECT l_orderkey, l_partkey,
             min(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS q
      FROM lineitem WHERE l_orderkey <= {_SSSP_CAP}
      GROUP BY l_orderkey, l_partkey
    ),
    ec AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, min(a.q + b.q) AS w
      FROM dp a JOIN dp b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    ),
    sym AS (
      SELECT u, v, w FROM ec UNION ALL SELECT v, u, w FROM ec
    ),
    edges AS (
      SELECT u, v, w FROM (
        SELECT u, v, w,
               row_number() OVER (PARTITION BY u ORDER BY w, v) AS rn
        FROM sym
      ) WHERE rn <= {_SSSP_DEG}
    )
"""


def _sssp_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE Spark statement of the weighted symmetric edge set (the
    ``_SSSP_EDGE_SQL`` twin), shared by q186 so the cap/weights cannot
    drift from the oracle."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= _SSSP_CAP)
    dp = (
        li.select(
            "l_orderkey",
            "l_partkey",
            F.floor(F.col("l_quantity") + 0.5).cast("long").alias("q"),
        )
        .groupBy("l_orderkey", "l_partkey")
        .agg(F.min("q").alias("q"))
    )
    b = dp.select(
        F.col("l_orderkey").alias("__o"), F.col("l_partkey").alias("v"), F.col("q").alias("qv")
    )
    ec = (
        dp.select(F.col("l_orderkey").alias("__o"), F.col("l_partkey").alias("u"), "q")
        .join(b, "__o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.min(F.col("q") + F.col("qv")).alias("w"))
    )
    sym = ec.unionByName(ec.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
    from pyspark.sql import Window

    rn = F.row_number().over(Window.partitionBy("u").orderBy("w", "v"))
    return sym.withColumn("__rn", rn).filter(F.col("__rn") <= _SSSP_DEG).drop("__rn")


@_q(
    "q186_sssp_cheapest_route",
    f"""
    WITH RECURSIVE {_SSSP_EDGE_SQL},
    walk(node, cost, d) AS (
      SELECT u, CAST(0 AS BIGINT), 0
      FROM (SELECT DISTINCT u FROM edges WHERE u % {_SSSP_HUB_MOD} = 0)
      UNION
      SELECT e.v, w.cost + e.w, w.d + 1
      FROM walk w JOIN edges e ON e.u = w.node
      WHERE w.d < {_SSSP_HOPS}
    )
    SELECT node AS l_partkey, min(cost) AS cheapest_cost
    FROM walk GROUP BY node
    """,
)
def q186_sssp_cheapest_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted MULTI-SOURCE cheapest paths within {hops} hops
    (Bellman-Ford supersteps) over the top-8-cheapest-pruned part
    co-purchase graph: every part whose id is divisible by
    {hub} is a "distribution hub" seeded at cost 0, and each
    reached part reports the exact cheapest route to its NEAREST hub
    — the facility-location / nearest-depot query, and the weighted
    twin of q151's single-source BFS. Multi-source costs nothing
    extra in this formulation (the seed frame is just wider), keeps
    the frontier rich at every SF, and after round k every reached
    node carries the exact min cost over walks of <= k edges from ANY
    hub (non-negative weights, so that IS the k-bounded shortest
    path). Each round is one equi-join of the NODE-bounded frontier
    against the persisted, u-partitioned edge frame + a
    per-destination partial-agg min; the rounds' union reduces with
    one final min groupBy, and the oracle restates the same bounded
    walk as a recursive CTE reduced by min(cost). See
    `operators/graph.py::sssp_bounded` for the scale contract (and
    why the accumulate shape, not the delta/anti-join one).
    """
    from batch_process_spark.operators.graph import sssp_bounded

    edges = memoized_persist(_sssp_edges(spark, sf_dir))
    seeds = (
        edges.filter(F.col("u") % _SSSP_HUB_MOD == 0)
        .select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("long").alias("cost"))
    )
    out = sssp_bounded(
        edges, rounds=_SSSP_HOPS, seed=seeds, persist=memoized_persist
    )
    return out.select(F.col("node").alias("l_partkey"), F.col("cost").alias("cheapest_cost"))


q186_sssp_cheapest_route.__doc__ = q186_sssp_cheapest_route.__doc__.format(
    hops=_SSSP_HOPS, hub=_SSSP_HUB_MOD
)

# ---------------------------------------------------------------------------
# q187: Poisson-bootstrap 95% CI for mean customer spend
# ---------------------------------------------------------------------------

_BOOT_REPS = 100
_BOOT_M = 2147483647  # 2^31 - 1
_BOOT_A = 2654435761  # Knuth multiplicative hash constant
# The replicate coefficient must be LARGE relative to M: with a small
# B the 100 replicate draws of one customer sit in a band of width
# 100*B/M of the unit interval, so its weight barely varies across
# replicates and the "bootstrap" degenerates to 100 copies of one
# resample (caught in review: the CI excluded the point estimate).
_BOOT_B = 1566083941  # Marsaglia MCG constant, ~0.73 * M
_BOOT_C = 12345
_BOOT_L = 48271  # Lehmer/MINSTD multiplier for the final scramble
# floor(CDF_Poisson(1)(k) * (2^31 - 1)) for k = 0..6; a draw at or
# past the last threshold gets weight 7 (P ~ 7e-5 — the tail beyond is
# negligible and the truncation is stated identically in both engines).
_BOOT_THRESH = (
    790015083,
    1580030167,
    1975037709,
    2106706890,
    2139624185,
    2146207644,
    2147304887,
)


def _boot_weight_sql(m: str) -> str:
    cases = " ".join(
        f"WHEN {m} < {t} THEN {k}" for k, t in enumerate(_BOOT_THRESH)
    )
    return f"CASE {cases} ELSE 7 END"


def _boot_weight_col(m):
    w = F.lit(7)
    for k, t in reversed(list(enumerate(_BOOT_THRESH))):
        w = F.when(m < F.lit(t), F.lit(k)).otherwise(w)
    return w


@_q(
    "q187_bootstrap_ci",
    f"""
    WITH osum AS (
      SELECT o_custkey,
             sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    drawn AS (
      SELECT r.r, o.cents,
             (((o.o_custkey % {_BOOT_M}) * {_BOOT_A} + r.r * {_BOOT_B}
               + {_BOOT_C}) % {_BOOT_M}) * {_BOOT_L} % {_BOOT_M} AS m
      FROM osum o CROSS JOIN range(0, {_BOOT_REPS}) r(r)
    ),
    reps AS (
      SELECT r,
             CAST(sum({_boot_weight_sql('m')} * cents) AS DOUBLE)
             / CAST(sum({_boot_weight_sql('m')}) AS DOUBLE) AS mean_r,
             CAST(sum(cents) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS n
      FROM drawn GROUP BY r
    )
    SELECT CAST(count(*) AS BIGINT) AS n_reps,
           floor((CAST(max(tot) AS DOUBLE) / max(n)) * 1000000 + 0.5) / 1000000
             AS est_mean,
           floor(quantile_cont(mean_r, 0.025) * 1000000 + 0.5) / 1000000 AS lo_95,
           floor(quantile_cont(mean_r, 0.975) * 1000000 + 0.5) / 1000000 AS hi_95
    FROM reps
    """,
)
def q187_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for mean customer spend — THE one-pass
    resampling move for uncertainty at the 100 TB target (Chamandy et
    al., "Estimating Uncertainty for Massive Data Streams", Google
    2012): instead of materializing B resampled datasets, each unit
    draws a Poisson(1) replication weight per replicate, so all
    {reps} bootstrap means come out of ONE scan. The draw is
    HASH-DETERMINISTIC — an integer LCG-style mix of (custkey,
    replicate) mapped through the integer-floored Poisson CDF — pure
    BIGINT arithmetic restated identically in DuckDB, so the oracle
    match is exact, not statistical. The custkey is reduced mod 2^31-1
    BEFORE the multiply so the mix never overflows int64 at any
    conceivable key range. Scale shape: the replicate dimension rides
    a map-side explode (no extra shuffle); partial aggregation means
    the one shuffle carries (#partitions x {reps}) partial rows, then
    {reps} rep-means reduce to a single percentile row. Replicate
    means are exact-integer ratios; both engines share the
    linear-interpolation percentile (the q43/q177-proven identity),
    so the final doubles agree bit-for-bit before rounding."""
    osum = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    drawn = osum.select(
        "cents",
        "o_custkey",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_REPS - 1))).alias("r"),
    ).select(
        "cents",
        "r",
        (
            (
                (
                    (F.col("o_custkey") % _BOOT_M) * F.lit(_BOOT_A)
                    + F.col("r").cast("long") * F.lit(_BOOT_B)
                    + F.lit(_BOOT_C)
                )
                % _BOOT_M
            )
            * F.lit(_BOOT_L)
            % _BOOT_M
        ).alias("m"),
    )
    w = _boot_weight_col(F.col("m"))
    # the un-weighted sum/count per replicate ARE the population totals
    # (identical in every replicate), so the point estimate rides the
    # same aggregation — no second scan of the fact table.
    reps = drawn.groupBy("r").agg(
        (
            F.sum(w * F.col("cents")).cast("double")
            / F.sum(w).cast("double")
        ).alias("mean_r"),
        F.sum("cents").alias("tot"),
        F.count(F.lit(1)).alias("n"),
    )

    def _r6(c):
        return F.floor(c * 1000000 + F.lit(0.5)) / 1000000

    return reps.agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.expr("percentile(mean_r, 0.025)").alias("__lo"),
        F.expr("percentile(mean_r, 0.975)").alias("__hi"),
        F.max("tot").alias("__tot"),
        F.max("n").alias("__n"),
    ).select(
        "n_reps",
        _r6(F.col("__tot").cast("double") / F.col("__n")).alias("est_mean"),
        _r6(F.col("__lo")).alias("lo_95"),
        _r6(F.col("__hi")).alias("hi_95"),
    )


q187_bootstrap_ci.__doc__ = q187_bootstrap_ci.__doc__.format(reps=_BOOT_REPS)

# ---------------------------------------------------------------------------
# q188: k-core of the co-purchase graph by bounded degree peeling
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    """The peel unrolled: rounds generated programmatically so the SQL
    and the Spark loop share one round count by construction."""
    # MATERIALIZED: each stage references its predecessor three times
    # (directly + through both semi-join sides); as inline views the
    # expansion would be 3^rounds scans of the base edge set (hit in
    # testing as an fd-exhaustion blowup), materialized it is linear.
    stages = []
    prev = "e0"
    for i in range(_KCORE_ROUNDS):
        stages.append(
            f"k{i} AS MATERIALIZED "
            f"(SELECT u FROM {prev} GROUP BY u HAVING count(*) >= {_KCORE_K})"
        )
        stages.append(
            f"e{i + 1} AS MATERIALIZED (SELECT e.u, e.v FROM {prev} e"
            f" JOIN k{i} a ON e.u = a.u JOIN k{i} b ON e.v = b.u)"
        )
        prev = f"e{i + 1}"
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
    {joined}
    SELECT u AS l_partkey, CAST(count(*) AS BIGINT) AS degree
    FROM {prev} GROUP BY u
    """


@_q("q188_kcore", _kcore_oracle())
def q188_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{k}-core of the part co-purchase graph by {rounds} rounds of
    degree peeling — the standard dense-substructure filter (spam/
    anomaly cores, community seeds) the triangle (q149) and component
    (q79) queries don't cover. Exactly {rounds} peels on BOTH sides —
    deterministic bounded semantics the oracle restates as {rounds}
    generated SQL stages from the same constant, so the round counts
    cannot drift; at fixpoint the extra rounds are no-ops and the
    result is the true k-core. Per round: one partial-agg degree count
    + two left-semi joins over the monotonically shrinking edge frame
    (`operators/graph.py::kcore_peel`); the final degree report is one
    more groupBy. Shares q151's bounded subgraph cap and the canonical
    symmetric edge set (`copurchase_edges`), so the graph cannot drift
    from the BFS/triangle family."""
    from batch_process_spark.operators.graph import copurchase_edges, kcore_peel

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= _SSSP_CAP)
    canon = copurchase_edges(li, "l_orderkey", "l_partkey")
    edges = memoized_persist(
        canon.unionByName(canon.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    core = kcore_peel(edges, k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return (
        core.groupBy("u")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.col("u").alias("l_partkey"), "degree")
    )


q188_kcore.__doc__ = q188_kcore.__doc__.format(k=_KCORE_K, rounds=_KCORE_ROUNDS)

# ---------------------------------------------------------------------------
# q189: seasonal indices + seasonal-naive backtest on monthly revenue
# ---------------------------------------------------------------------------


def _monthly_revenue_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-cents monthly revenue rollup (y, m, cents) — the shared
    fact-scale first stage of q189/q194/q197, factored to ONE
    definition so the three time-series queries cannot drift apart
    (an edit here reaches all of them) and ``memoized_persist`` keys
    a single materialization they all reuse. Map-side-combined
    groupBy; the result is CALENDAR-BOUNDED (#years x 12 rows
    regardless of SF)."""
    o = _t(spark, sf_dir, "orders")
    return memoized_persist(
        o.select(
            F.year("o_orderdate").cast("long").alias("y"),
            F.month("o_orderdate").cast("long").alias("m"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("c"),
        )
        .groupBy("y", "m")
        .agg(F.sum("c").alias("cents"))
    )


def _seasonal_index_parts(monthly: DataFrame):
    """(moy, tot, idx) — q189's ratio-to-overall seasonal-index
    pieces, shared verbatim with q194's deseasonalizer so the index
    q194 divides by is the SAME expression tree q189 reports. moy and
    tot are calendar-bounded (<= 12 rows / 1 row): broadcast-safe by
    construction."""
    moy = monthly.groupBy("m").agg(
        F.sum("cents").alias("moy_cents"), F.count(F.lit(1)).alias("moy_n")
    )
    tot = monthly.agg(
        F.sum("cents").alias("tot_cents"), F.count(F.lit(1)).alias("tot_n")
    )
    idx = (F.col("moy_cents").cast("double") / F.col("moy_n")) / (
        F.col("tot_cents").cast("double") / F.col("tot_n")
    )
    return moy, tot, idx


@_q(
    "q189_seasonal_index",
    """
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
             CAST(month(o_orderdate) AS BIGINT) AS m,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    moy AS (
      SELECT m, sum(cents) AS moy_cents, CAST(count(*) AS BIGINT) AS moy_n
      FROM monthly GROUP BY m
    ),
    tot AS (
      SELECT sum(cents) AS tot_cents, CAST(count(*) AS BIGINT) AS tot_n
      FROM monthly
    )
    SELECT mo.y, mo.m, mo.cents,
           floor(((CAST(moy.moy_cents AS DOUBLE) / moy.moy_n)
                  / (CAST(tot.tot_cents AS DOUBLE) / tot.tot_n))
                 * 1000000 + 0.5) / 1000000 AS seasonal_index,
           floor((CAST(abs(mo.cents - pv.cents) AS DOUBLE)
                  / CAST(mo.cents AS DOUBLE)) * 1000000 + 0.5) / 1000000
             AS yoy_ape
    FROM monthly mo
    JOIN moy ON moy.m = mo.m
    CROSS JOIN tot
    LEFT JOIN monthly pv ON pv.y = mo.y - 1 AND pv.m = mo.m
    """,
)
def q189_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-overall seasonal indices on monthly revenue plus a
    seasonal-naive (same month, last year) backtest — the decomposition
    a forecasting pipeline runs before anything fancier, and the
    honest baseline any model must beat (q31's regression reports fit,
    this reports month-of-year shape and YoY absolute percentage
    error). All sums are exact integer cents; the index and APE are
    ratios of exact ints phrased as double division chains — no double
    accumulation anywhere, so engine summation order cannot matter.
    Scale shape: the monthly frame is CALENDAR-BOUNDED (#years x 12
    rows regardless of SF), so every join after the first partial-agg
    groupBy is broadcast-eligible by construction — the one genuinely
    safe broadcast class; the raw orders scan aggregates map-side
    before its single shuffle."""
    monthly = _monthly_revenue_cents(spark, sf_dir)
    moy, tot, idx = _seasonal_index_parts(monthly)
    pv = monthly.select(
        (F.col("y") + 1).alias("y"), "m", F.col("cents").alias("__pv")
    )

    def _r6(c):
        return F.floor(c * 1000000 + F.lit(0.5)) / 1000000

    ape = F.abs(F.col("cents") - F.col("__pv")).cast("double") / F.col("cents").cast(
        "double"
    )
    return (
        monthly.join(F.broadcast(moy), "m")  # calendar-bounded: <= 12 rows
        .crossJoin(F.broadcast(tot))  # 1 row
        .join(F.broadcast(pv), ["y", "m"], "left")  # calendar-bounded
        .select(
            "y",
            "m",
            "cents",
            _r6(idx).alias("seasonal_index"),
            _r6(ape).alias("yoy_ape"),
        )
    )


# ---------------------------------------------------------------------------
# q190: repeat-purchase rate per part with a Wilson 95% interval
# ---------------------------------------------------------------------------

_WILSON_Z = "1.959964"  # shared literal so both engines square/multiply the same double


@_q(
    "q190_repeat_purchase_wilson",
    f"""
    WITH pc AS (
      SELECT l.l_partkey, o.o_custkey,
             CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_partkey, o.o_custkey
    ),
    agg AS (
      SELECT l_partkey,
             CAST(count(*) AS BIGINT) AS n_buyers,
             CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS repeat_buyers
      FROM pc GROUP BY l_partkey
    ),
    w AS (
      SELECT l_partkey, n_buyers, repeat_buyers,
             CAST(repeat_buyers AS DOUBLE) / n_buyers AS p,
             CAST({_WILSON_Z} AS DOUBLE) AS z,
             CAST(n_buyers AS DOUBLE) AS n
      FROM agg
    )
    SELECT l_partkey, n_buyers, repeat_buyers,
           floor(p * 1000000 + 0.5) / 1000000 AS repeat_rate,
           floor(((p + z * z / (2 * n)
                   - z * sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
                  / (1 + z * z / n)) * 1000000 + 0.5) / 1000000 AS wilson_lo,
           floor(((p + z * z / (2 * n)
                   + z * sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
                  / (1 + z * z / n)) * 1000000 + 0.5) / 1000000 AS wilson_hi
    FROM w
    """,
)
def q190_repeat_purchase_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part repeat-purchase rate with its Wilson 95% score interval
    — the interval a ranking pipeline uses instead of the raw rate
    (a 1/1 part must NOT outrank a 45/50 part; Wilson's lower bound is
    the standard fix, e.g. Reddit's comment ranking). "Repeat buyer"
    means >= 2 DISTINCT orders containing the part — count(DISTINCT
    l_orderkey), not joined-row count, since one order can legally
    carry the same part on several lineitems. Counts are exact ints
    off one lineitem><orders equi-join — both sides already shuffle
    on the order key, the join's natural partitioning — then two
    partial-agg groupBys (the distinct adds one dedup exchange on
    (part, cust), still partial-aggregated map-side). The interval is one double expression
    phrased IDENTICALLY in both engines: +, *, / and sqrt are all
    IEEE-754 correctly-rounded, so identical expression trees give
    bit-identical doubles before the one rounding step."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    pc = (
        li.join(o, "l_orderkey")
        .groupBy("l_partkey", "o_custkey")
        .agg(F.countDistinct("l_orderkey").alias("n_orders"))
    )
    agg = pc.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_buyers"),
        F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0)).alias("repeat_buyers"),
    )
    p = F.col("repeat_buyers").cast("double") / F.col("n_buyers")
    z = F.lit(float(_WILSON_Z))
    n = F.col("n_buyers").cast("double")
    half = z * F.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    centre = p + z * z / (2 * n)
    denom = 1 + z * z / n

    def _r6(c):
        return F.floor(c * 1000000 + F.lit(0.5)) / 1000000

    return agg.select(
        "l_partkey",
        "n_buyers",
        "repeat_buyers",
        _r6(p).alias("repeat_rate"),
        _r6((centre - half) / denom).alias("wilson_lo"),
        _r6((centre + half) / denom).alias("wilson_hi"),
    )


# ---------------------------------------------------------------------------
# q191: RFM segmentation via exact quintile boundaries
# ---------------------------------------------------------------------------


@_q(
    "q191_rfm_segments",
    """
    WITH cust AS (
      SELECT o_custkey,
             CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                            (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
                  AS BIGINT) AS rec_days,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    b AS (
      SELECT quantile_cont(rec_days, [0.2, 0.4, 0.6, 0.8]) AS rb,
             quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fb,
             quantile_cont(cents, [0.2, 0.4, 0.6, 0.8]) AS mb
      FROM cust
    ),
    scored AS (
      SELECT CAST(1 + len(list_filter(b.rb, x -> rec_days > x)) AS BIGINT) AS r_score,
             CAST(1 + len(list_filter(b.fb, x -> freq > x)) AS BIGINT) AS f_score,
             CAST(1 + len(list_filter(b.mb, x -> cents > x)) AS BIGINT) AS m_score,
             cents
      FROM cust CROSS JOIN b
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM scored GROUP BY r_score, f_score, m_score
    """,
)
def q191_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) segmentation — the marketing
    workhorse: per customer, days since last order (vs the corpus-max
    date), order count, and lifetime cents; each metric buckets into
    quintiles 1-5 via EXACT interpolated percentile boundaries
    computed in one 1-row agg and folded map-side (the q177 equi-depth
    move — the textbook ntile(5) formulation is an unpartitioned
    global sort, the single-task scale-killer; boundary assignment
    keeps every stage partitioned and at 100 TB swaps to
    approx_percentile with the same plan shape). Scores bucket by
    ascending VALUE (r_score 1 = most recent, f/m_score 5 = top
    quintile); ~125 segment rows out. The boundary doubles are
    bit-identical cross-engine per the q43/q177 percentile identity,
    so the strict `value > bound` assignment cannot flip."""
    o = _t(spark, sf_dir, "orders")
    gmax = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("gmax"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")).alias(
                "cents"
            ),
        )
        .crossJoin(F.broadcast(gmax))  # 1-row corpus max: truly bounded
        .select(
            F.datediff("gmax", "last_d").cast("long").alias("rec_days"),
            "freq",
            "cents",
        )
    )
    cust = memoized_persist(cust)
    ql = "array(0.2, 0.4, 0.6, 0.8)"
    b = cust.agg(
        F.expr(f"percentile(rec_days, {ql})").alias("rb"),
        F.expr(f"percentile(freq, {ql})").alias("fb"),
        F.expr(f"percentile(cents, {ql})").alias("mb"),
    )

    def score(bounds_col, val):
        return 1 + F.aggregate(
            bounds_col, F.lit(0).cast("long"), lambda acc, x: acc + (val > x).cast("long")
        )

    return (
        cust.crossJoin(F.broadcast(b))
        .select(
            score(F.col("rb"), F.col("rec_days")).alias("r_score"),
            score(F.col("fb"), F.col("freq")).alias("f_score"),
            score(F.col("mb"), F.col("cents")).alias("m_score"),
            "cents",
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# q192: Pareto 80/20 cutoff — customers covering 80% of nation revenue
# ---------------------------------------------------------------------------


@_q(
    "q192_pareto_revenue",
    """
    WITH spend AS (
      SELECT c.c_nationkey, c.c_custkey,
             CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, c.c_custkey
    ),
    ranked AS (
      SELECT c_nationkey, cents,
             CAST(sum(cents) OVER (PARTITION BY c_nationkey
                                   ORDER BY cents DESC, c_custkey
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(sum(cents) OVER (PARTITION BY c_nationkey) AS BIGINT) AS tot,
             CAST(count(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n_buyers
      FROM spend
    )
    SELECT c_nationkey, n_buyers,
           CAST(sum(CASE WHEN (cum - cents) * 5 < tot * 4 THEN 1 ELSE 0 END)
                AS BIGINT) AS top_n,
           CAST(floor(sum(CASE WHEN (cum - cents) * 5 < tot * 4 THEN 1 ELSE 0 END)
                      * 10000.0 / n_buyers) AS BIGINT) AS top_share_bp
    FROM ranked GROUP BY c_nationkey, n_buyers
    """,
)
def q192_pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / 80-20 concentration cutoff per nation: the SMALLEST
    prefix of customers (by descending spend, custkey tie-break) whose
    revenue reaches 80% of the nation's total, reported as a count and
    as basis points of the buying population — the concentration
    number account teams act on, complementing q179's Gini (a summary
    statistic) with an actionable cutoff. ENTIRELY integer: a customer
    is inside the cutoff iff the revenue BEFORE them is still under
    80%, phrased as (cum - cents) * 5 < tot * 4 — no doubles anywhere
    until the final basis-point floor. One custkey-partitioned
    pre-aggregate, then nation-partitioned windows (cumsum + total
    share one exchange on the nation key); never an unpartitioned
    window. Products stay far inside int64: tot*5 at 100 TB-scale
    national revenue (~1e15 cents) is ~5e15 << 2^63."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    spend = (
        o.join(cust, "c_custkey")
        .groupBy("c_nationkey", "c_custkey")
        .agg(F.sum("c").alias("cents"))
    )
    from pyspark.sql import Window

    wcum = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.desc("cents"), F.asc("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("c_nationkey")
    ranked = spend.select(
        "c_nationkey",
        "cents",
        F.sum("cents").over(wcum).alias("cum"),
        F.sum("cents").over(wall).alias("tot"),
        F.count(F.lit(1)).over(wall).alias("n_buyers"),
    )
    inside = F.when((F.col("cum") - F.col("cents")) * 5 < F.col("tot") * 4, 1).otherwise(0)
    return (
        ranked.groupBy("c_nationkey", "n_buyers")
        .agg(F.sum(inside).alias("top_n"))
        .select(
            "c_nationkey",
            "n_buyers",
            "top_n",
            F.floor(F.col("top_n") * 10000.0 / F.col("n_buyers")).cast("long").alias(
                "top_share_bp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q193: join-key skew audit — the diagnostic that feeds the salting knob
# ---------------------------------------------------------------------------

_SKEW_COLS = ("l_partkey", "l_suppkey", "l_orderkey")


def _skew_oracle() -> str:
    parts = []
    for c in _SKEW_COLS:
        parts.append(f"""
    SELECT '{c}' AS key_col,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(cnt) AS BIGINT) AS max_key_rows,
           floor((CAST(max(cnt) AS DOUBLE) * count(*))
                 / CAST(sum(cnt) AS DOUBLE) * 10000 + 0.5) / 10000
             AS skew_ratio,
           CAST(floor(CAST(max(cnt) AS DOUBLE) * 1000000 / sum(cnt))
                AS BIGINT) AS top1_ppm
    FROM (SELECT {c}, CAST(count(*) AS BIGINT) AS cnt
          FROM lineitem GROUP BY {c})""")
    return " UNION ALL ".join(parts)


@_q("q193_skew_audit", _skew_oracle())
def q193_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit over the fact table's three join keys — the
    diagnostic a pipeline runs BEFORE choosing `operators/skew.py`
    salting or trusting AQE's skew-join splitter: rows, distinct keys,
    the heaviest key's row count, the skew ratio (max/mean key size —
    1.0 is perfectly uniform), and the heaviest key's share in ppm.
    One partial-agg groupBy per audited column, each collapsing to a
    1-row summary; counts exact ints, the two ratios are
    identically-phrased double expressions. At 100 TB the per-key
    aggregate is exactly the map-side-combined pass a salting decision
    needs anyway — this query IS the planning probe, not a model of
    one. The generated oracle unions one block per key column from the
    same constant, so the column list cannot drift."""
    li = _t(spark, sf_dir, "lineitem")
    outs = []
    for c in _SKEW_COLS:
        per = li.groupBy(c).agg(F.count(F.lit(1)).alias("cnt"))
        outs.append(
            per.agg(
                F.lit(c).alias("key_col"),
                F.sum("cnt").alias("n_rows"),
                F.count(F.lit(1)).alias("n_keys"),
                F.max("cnt").alias("max_key_rows"),
                (
                    F.floor(
                        (F.max("cnt").cast("double") * F.count(F.lit(1)))
                        / F.sum("cnt").cast("double")
                        * 10000
                        + F.lit(0.5)
                    )
                    / 10000
                ).alias("skew_ratio"),
                F.floor(
                    F.max("cnt").cast("double") * 1000000 / F.sum("cnt")
                ).cast("long").alias("top1_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# q194: seasonal-adjusted revenue anomalies (deseasonalize + median/MAD)
# ---------------------------------------------------------------------------

_ANOM_K = "2.5"  # MAD multiplier, shared literal


@_q(
    "q194_seasonal_anomaly",
    f"""
    WITH monthly AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
             CAST(month(o_orderdate) AS BIGINT) AS m,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    moy AS (
      SELECT m, sum(cents) AS moy_cents, CAST(count(*) AS BIGINT) AS moy_n
      FROM monthly GROUP BY m
    ),
    tot AS (
      SELECT sum(cents) AS tot_cents, CAST(count(*) AS BIGINT) AS tot_n
      FROM monthly
    ),
    des AS (
      SELECT y, m, cents,
             CAST(cents AS DOUBLE)
             / ((CAST(moy.moy_cents AS DOUBLE) / moy.moy_n)
                / (CAST(tot.tot_cents AS DOUBLE) / tot.tot_n)) AS x
      FROM monthly JOIN moy USING (m) CROSS JOIN tot
    ),
    med AS (SELECT quantile_cont(x, 0.5) AS med FROM des),
    mad AS (
      SELECT quantile_cont(abs(x - (SELECT med FROM med)), 0.5) AS mad FROM des
    )
    SELECT y, m, cents,
           floor(x * 10000 + 0.5) / 10000 AS deseasonalized,
           CAST(CASE WHEN abs(x - (SELECT med FROM med))
                          > {_ANOM_K} * (SELECT mad FROM mad)
                     THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
    FROM des
    """,
)
def q194_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-adjusted revenue anomaly flags — the composition a
    monitoring pipeline actually runs: divide each month's exact-cents
    revenue by its month-of-year seasonal index (q189's ratio), then
    flag months whose deseasonalized value sits more than 2.5 MADs
    from the median — the robust detector that one blowout month
    cannot recruit into its own baseline (a mean/stddev z-score
    would). The monthly frame is the SAME plan as q189's, so the
    persist memo shares one materialization between them; everything
    downstream is calendar-bounded (#years x 12 rows) riding 1-row
    broadcasts. The median and MAD run over identical doubles in both
    engines (exact-int ratios in, the q43/q177 percentile identity
    through), so the strict > comparison cannot flip; the flag is
    reported as BIGINT and the deseasonalized value rounds only at
    output."""
    monthly = _monthly_revenue_cents(spark, sf_dir)
    moy, tot, idx = _seasonal_index_parts(monthly)
    des = memoized_persist(
        monthly.join(F.broadcast(moy), "m")
        .crossJoin(F.broadcast(tot))
        .select("y", "m", "cents", (F.col("cents").cast("double") / idx).alias("x"))
    )
    med = des.agg(F.expr("percentile(x, 0.5)").alias("med"))
    mad = (
        des.crossJoin(F.broadcast(med))
        .agg(F.expr("percentile(abs(x - med), 0.5)").alias("mad"), F.first("med").alias("med"))
    )
    k = F.lit(float(_ANOM_K))
    return (
        des.crossJoin(F.broadcast(mad))
        .select(
            "y",
            "m",
            "cents",
            (F.floor(F.col("x") * 10000 + F.lit(0.5)) / 10000).alias("deseasonalized"),
            F.when(F.abs(F.col("x") - F.col("med")) > k * F.col("mad"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# q195: leave-one-out target encoding audit
# ---------------------------------------------------------------------------


@_q(
    "q195_target_encoding_loo",
    """
    WITH base AS (
      SELECT o_orderpriority AS cat,
             CAST(year(o_orderdate) AS BIGINT) AS y,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    g AS (
      SELECT cat, y,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s
      FROM base GROUP BY cat, y
    ),
    loo AS (
      SELECT b.cat, b.y, g.n, g.s,
             CAST(g.s - b.cents AS DOUBLE) / (g.n - 1) AS enc
      FROM base b JOIN g ON g.cat = b.cat AND g.y = b.y
      WHERE g.n > 1
    )
    SELECT cat, y, CAST(max(n) AS BIGINT) AS n,
           floor((CAST(max(s) AS DOUBLE) / max(n)) * 10000 + 0.5) / 10000
             AS mean_full,
           floor(min(enc) * 10000 + 0.5) / 10000 AS min_loo,
           floor(max(enc) * 10000 + 0.5) / 10000 AS max_loo
    FROM loo GROUP BY cat, y
    """,
)
def q195_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding audit over (priority, year) cells
    — the leakage-aware categorical encoder a training pipeline ships
    (a plain per-category target mean leaks each row's own label into
    its feature; LOO subtracts the row out: (sum - y_i) / (n - 1)).
    Reported per cell: n, the full mean, and the LOO encoding's
    min/max — the spread IS the leakage magnitude a plain encoder
    would inject, and min/max (not an average) keeps the output free
    of order-dependent double accumulation. One map-side-combined
    group aggregate, then the per-row encodings ride a broadcast join
    of the CELL table (bounded: 5 priorities x #years) back onto the
    fact scan — at 100 TB the fact table never shuffles at all.
    Singleton cells are excluded on BOTH sides (n > 1: LOO of a
    singleton divides by zero — the well-known encoder edge case,
    handled by exclusion rather than NaN)."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("cat"),
        F.year("o_orderdate").cast("long").alias("y"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    g = base.groupBy("cat", "y").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    loo = (
        base.join(F.broadcast(g), ["cat", "y"])  # cell table: 5 x #years rows
        .filter(F.col("n") > 1)
        .select(
            "cat",
            "y",
            "n",
            "s",
            ((F.col("s") - F.col("cents")).cast("double") / (F.col("n") - 1)).alias("enc"),
        )
    )

    def _r4(c):
        return F.floor(c * 10000 + F.lit(0.5)) / 10000

    return loo.groupBy("cat", "y").agg(
        F.max("n").alias("n"),
        _r4(F.max("s").cast("double") / F.max("n")).alias("mean_full"),
        _r4(F.min("enc")).alias("min_loo"),
        _r4(F.max("enc")).alias("max_loo"),
    )


# ---------------------------------------------------------------------------
# q196: streaming conversion monitor with Wilson bounds
# ---------------------------------------------------------------------------

_CONV_THRESH = "10.0"  # conversion = value >= this, shared literal


@_q(
    "q196_streaming_conversion",
    f"""
    WITH agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN value >= {_CONV_THRESH} THEN 1 ELSE 0 END)
                  AS BIGINT) AS conversions
      FROM events GROUP BY event_type
    ),
    w AS (
      SELECT event_type, n_events, conversions,
             CAST(conversions AS DOUBLE) / n_events AS p,
             CAST({_WILSON_Z} AS DOUBLE) AS z,
             CAST(n_events AS DOUBLE) AS n
      FROM agg
    )
    SELECT event_type, n_events, conversions,
           floor(p * 1000000 + 0.5) / 1000000 AS conv_rate,
           floor(((p + z * z / (2 * n)
                   - z * sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
                  / (1 + z * z / n)) * 1000000 + 0.5) / 1000000 AS wilson_lo,
           floor(((p + z * z / (2 * n)
                   + z * sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
                  / (1 + z * z / n)) * 1000000 + 0.5) / 1000000 AS wilson_hi
    FROM w
    """,
)
def q196_streaming_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q190 Wilson discipline run CONTINUOUSLY: per-event-type
    conversion counters (conversion = value >= 10) maintained as a
    complete-mode streaming aggregation over three real micro-batches
    of the events feed — COUNT and SUM are batching- and
    order-insensitive, so the final counters must equal the batch
    aggregate over the same rows, which is exactly what the shared
    oracle pins. The Wilson 95% interval is computed as a tiny batch
    job over the final <=10-group result table, with the SAME shared z
    literal and expression phrasing as q190 — the dashboards' banner
    metric with honest small-n uncertainty, maintained without ever
    re-scanning history. NULL event_type stays its own group (single
    groupBy, never a join — the NULL-dropping seam)."""
    from batch_process_spark.streaming.windows import drive_stream_to_memory

    conv = F.when(F.col("value") >= float(_CONV_THRESH), 1).otherwise(0)
    stream, feeds = _events_stream(spark, sf_dir, "q196", n_slices=3)
    out = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(conv).cast("long").alias("conversions"),
    )
    agg = drive_stream_to_memory(spark, out, "q196_out", "complete", feeds=feeds)
    p = F.col("conversions").cast("double") / F.col("n_events")
    z = F.lit(float(_WILSON_Z))
    n = F.col("n_events").cast("double")
    half = z * F.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    centre = p + z * z / (2 * n)
    denom = 1 + z * z / n

    def _r6(c):
        return F.floor(c * 1000000 + F.lit(0.5)) / 1000000

    return agg.select(
        "event_type",
        "n_events",
        "conversions",
        _r6(p).alias("conv_rate"),
        _r6((centre - half) / denom).alias("wilson_lo"),
        _r6((centre + half) / denom).alias("wilson_hi"),
    )


# ---------------------------------------------------------------------------
# q197: Holt linear-trend forecast with walk-forward one-step errors
# ---------------------------------------------------------------------------

_HOLT_A = "0.5"  # level smoothing, exactly representable
_HOLT_B = "0.25"  # trend smoothing, exactly representable


@_q(
    "q197_holt_forecast",
    f"""
    WITH RECURSIVE monthly AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
             CAST(month(o_orderdate) AS BIGINT) AS m,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    s AS (
      SELECT y, m, cents,
             CAST(row_number() OVER (ORDER BY y, m) AS BIGINT) AS t
      FROM monthly
    ),
    init AS (
      SELECT CAST(a.cents AS DOUBLE) AS l0,
             CAST(b.cents - a.cents AS DOUBLE) AS b0
      FROM s a, s b WHERE a.t = 1 AND b.t = 2
    ),
    rec(t, l, b) AS (
      SELECT CAST(1 AS BIGINT), l0, b0 FROM init
      UNION ALL
      SELECT s.t,
             {_HOLT_A} * CAST(s.cents AS DOUBLE) + (1 - {_HOLT_A}) * (r.l + r.b),
             {_HOLT_B} * (({_HOLT_A} * CAST(s.cents AS DOUBLE)
                           + (1 - {_HOLT_A}) * (r.l + r.b)) - r.l)
             + (1 - {_HOLT_B}) * r.b
      FROM rec r JOIN s ON s.t = r.t + 1
    )
    SELECT s.y, s.m, s.cents,
           floor((r.l + r.b) * 10000 + 0.5) / 10000 AS forecast,
           floor(abs(CAST(s.cents AS DOUBLE) - (r.l + r.b))
                 / CAST(s.cents AS DOUBLE) * 1000000 + 0.5) / 1000000 AS ape
    FROM s JOIN rec r ON r.t = s.t - 1
    """,
)
def q197_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential (level + linear trend) one-step-ahead
    forecasts over monthly revenue, with walk-forward absolute
    percentage errors — the forecasting baseline between q31's global
    regression and q189's seasonal-naive. The recurrence is inherently
    sequential, but the series is CALENDAR-BOUNDED (#years x 12 rows
    regardless of SF), so the q184 pattern applies: the heavy
    map-side-combined monthly aggregate is the only fact-scale stage,
    then the whole recursion folds inside array expressions over ONE
    collected row; the oracle restates the identical recurrence as a
    recursive CTE. Smoothing constants 0.5/0.25 are exactly
    representable and every arithmetic step is phrased identically, so
    the doubles agree bit-for-bit before the output rounding.
    Forecasts exist from the second month (the standard two-point
    init: l=y1, b=y2-y1)."""
    monthly = _monthly_revenue_cents(spark, sf_dir)
    one = monthly.agg(
        F.array_sort(F.collect_list(F.struct("y", "m", "cents"))).alias("arr")
    )
    a, b = float(_HOLT_A), float(_HOLT_B)
    fold = F.aggregate(
        F.slice(F.col("arr"), 2, F.greatest(F.size("arr") - 1, F.lit(0))),
        F.struct(
            F.element_at("arr", 1).getField("cents").cast("double").alias("l"),
            (
                F.element_at("arr", 2).getField("cents")
                - F.element_at("arr", 1).getField("cents")
            )
            .cast("double")
            .alias("b"),
            F.array().cast(
                "array<struct<y:bigint,m:bigint,cents:bigint,f:double>>"
            ).alias("out"),
        ),
        lambda acc, e: F.struct(
            (
                F.lit(a) * e.getField("cents").cast("double")
                + F.lit(1 - a) * (acc.getField("l") + acc.getField("b"))
            ).alias("l"),
            (
                F.lit(b)
                * (
                    (
                        F.lit(a) * e.getField("cents").cast("double")
                        + F.lit(1 - a) * (acc.getField("l") + acc.getField("b"))
                    )
                    - acc.getField("l")
                )
                + F.lit(1 - b) * acc.getField("b")
            ).alias("b"),
            F.concat(
                acc.getField("out"),
                F.array(
                    F.struct(
                        e.getField("y").alias("y"),
                        e.getField("m").alias("m"),
                        e.getField("cents").alias("cents"),
                        (acc.getField("l") + acc.getField("b")).alias("f"),
                    )
                ),
            ).alias("out"),
        ),
        lambda acc: acc.getField("out"),
    )
    return (
        one.select(F.explode(fold).alias("r"))
        .select(
            F.col("r.y").alias("y"),
            F.col("r.m").alias("m"),
            F.col("r.cents").alias("cents"),
            (F.floor(F.col("r.f") * 10000 + F.lit(0.5)) / 10000).alias("forecast"),
            (
                F.floor(
                    F.abs(F.col("r.cents").cast("double") - F.col("r.f"))
                    / F.col("r.cents").cast("double")
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("ape"),
        )
    )


# ---------------------------------------------------------------------------
# q198: link prediction — common neighbors + Jaccard on non-edges
# ---------------------------------------------------------------------------

_LP_TOPK = 20


@_q(
    "q198_link_prediction",
    f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      WHERE l_orderkey <= {_SSSP_CAP}
    ),
    ec AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey < b.l_partkey
    ),
    sym AS MATERIALIZED (SELECT u, v FROM ec UNION ALL SELECT v, u FROM ec),
    deg AS MATERIALIZED (
      SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u
    ),
    cn AS (
      SELECT a.u AS u, b.v AS v, CAST(count(*) AS BIGINT) AS cn
      FROM sym a JOIN sym b ON a.v = b.u AND a.u < b.v
      WHERE NOT EXISTS (SELECT 1 FROM ec e WHERE e.u = a.u AND e.v = b.v)
      GROUP BY a.u, b.v
    )
    SELECT cn.u, cn.v, cn.cn, du.d AS deg_u, dv.d AS deg_v,
           floor(CAST(cn.cn AS DOUBLE) / (du.d + dv.d - cn.cn)
                 * 1000000 + 0.5) / 1000000 AS jaccard
    FROM cn JOIN deg du ON du.u = cn.u JOIN deg dv ON dv.u = cn.v
    ORDER BY cn.cn DESC, cn.u ASC, cn.v ASC
    LIMIT {_LP_TOPK}
    """,
)
def q198_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the part co-purchase graph: for every
    NON-adjacent pair at distance 2, the common-neighbor count and
    neighborhood Jaccard — the classic candidate-edge scores (the
    "customers also bought" recommender baseline), ranked top-{k} by
    (cn, u, v) with a wholly deterministic tie order. Shares q151's
    bounded subgraph and canonical edge set. Shape: the wedge
    self-join on the symmetric edges' middle vertex (one shuffle on
    that key — the q149 triangle stage without the closure), an ANTI
    join against the canonical edge set to keep only non-edges, and a
    stats-gated degree attach; top-k is TakeOrderedAndProject, never
    a global sort. Jaccard = cn / (deg_u + deg_v - cn) is one
    exact-int ratio (no order-dependent accumulation — the reason
    Adamic-Adar's sum of 1/log(deg) doubles is deliberately NOT here:
    its summation order is engine-dependent)."""
    from batch_process_spark.operators import joins
    from batch_process_spark.operators.graph import copurchase_edges

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= _SSSP_CAP)
    canon = memoized_persist(copurchase_edges(li, "l_orderkey", "l_partkey"))
    sym = memoized_persist(
        canon.unionByName(canon.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    a = sym.select(F.col("u").alias("a"), F.col("v").alias("w"))
    b = sym.select(F.col("u").alias("w"), F.col("v").alias("b"))
    cn = (
        a.join(b, "w")
        .filter(F.col("a") < F.col("b"))
        .join(
            canon.select(F.col("u").alias("a"), F.col("v").alias("b")),
            ["a", "b"],
            "left_anti",
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    out = (
        cn.join(joins.gated_broadcast(deg.select(F.col("u").alias("a"), F.col("d").alias("deg_u"))), "a")
        .join(joins.gated_broadcast(deg.select(F.col("u").alias("b"), F.col("d").alias("deg_v"))), "b")
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "cn",
            "deg_u",
            "deg_v",
            (
                F.floor(
                    F.col("cn").cast("double")
                    / (F.col("deg_u") + F.col("deg_v") - F.col("cn"))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("jaccard"),
        )
    )
    return out.orderBy(F.desc("cn"), F.asc("u"), F.asc("v")).limit(_LP_TOPK)


q198_link_prediction.__doc__ = q198_link_prediction.__doc__.format(k=_LP_TOPK)


# ---------------------------------------------------------------------------
# q199: corpus-prep capstone — quality gate -> exact dedup -> hash split
# ---------------------------------------------------------------------------

_PREP_MIN_CHARS = 100
_PREP_MAX_CHARS = 20000
_PREP_MIN_TOKS = 20

# The ONE SQL statement of the prep pipeline (gate -> dedup -> bucketed
# survivors), shared by q199 and q200 so the twins cannot drift.
_PREP_KEPT_SQL = f"""
    base AS (
      SELECT doc_id, text, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
             n_chars
      FROM documents
    ),
    gated AS (
      SELECT * FROM base
      WHERE n_chars BETWEEN {_PREP_MIN_CHARS} AND {_PREP_MAX_CHARS}
        AND toks >= {_PREP_MIN_TOKS}
    ),
    keyed AS (SELECT doc_id, lang, toks, md5(text) AS k FROM gated),
    surv AS (
      SELECT k,
             arg_min(lang, doc_id) AS lang,
             arg_min(toks, doc_id) AS toks
      FROM keyed GROUP BY k
    ),
    kept AS (
      SELECT lang, toks,
             CASE WHEN CAST(('0x' || substr(md5(k), 1, 6)) AS BIGINT) % 10 < 8
                  THEN 'train'
                  WHEN CAST(('0x' || substr(md5(k), 1, 6)) AS BIGINT) % 10 = 8
                  THEN 'val' ELSE 'test' END AS bucket
      FROM surv
    )
"""


@_q(
    "q199_corpus_prep_pipeline",
    f"""
    WITH {_PREP_KEPT_SQL},
    splits AS (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(toks) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      FROM kept GROUP BY 1
    )
    SELECT * FROM splits
    UNION ALL
    SELECT 'rejected_quality',
           CAST((SELECT count(*) FROM base) - (SELECT count(*) FROM gated)
                AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    UNION ALL
    SELECT 'removed_duplicates',
           CAST((SELECT count(*) FROM gated) - (SELECT count(*) FROM surv)
                AS BIGINT),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    """,
)
def q199_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-corpus preparation pipeline as ONE dataflow —
    quality gate (char-length band + minimum token count), exact
    dedup with a deterministic min-id survivor, and a leakage-safe
    8/1/1 hash split on the CONTENT key (q165's discipline: duplicate
    content can never straddle a split because the split key IS the
    dedup key) — with full conservation accounting: the output rows
    are the three splits plus the rejected/duplicate tallies, and
    train+val+test+rejected+removed must equal the corpus exactly
    (pinned in pytest). Every stage is one map-side expression or one
    partial-agg groupBy on the content hash; the survivor's
    attributes ride ``min_by``/``arg_min`` INSIDE that aggregation —
    no join-back to fetch the representative row, the seam the naive
    formulation pays a second shuffle for. At 100 TB this plan is:
    one scan, one hash exchange, a 5-row union."""
    docs = _t(spark, sf_dir, "documents")
    base = memoized_persist(
        docs.select(
            "doc_id",
            "lang",
            F.size(F.split("text", " ")).cast("long").alias("toks"),
            "n_chars",
        )
    )
    gated = base.filter(
        F.col("n_chars").between(_PREP_MIN_CHARS, _PREP_MAX_CHARS)
        & (F.col("toks") >= _PREP_MIN_TOKS)
    )
    # the gate -> dedup -> bucket chain itself is the SHARED helper
    # (`_prep_survivors`) so q199/q200 cannot drift; only the stage
    # accounting below is query-local.
    kept = _prep_survivors(spark, sf_dir)
    splits = kept.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("n_tokens"),
        F.count_distinct("lang").alias("n_langs"),
    )
    n_base = base.agg(F.count(F.lit(1)).alias("n"))
    n_gated = gated.agg(F.count(F.lit(1)).alias("n"))
    n_surv = kept.agg(F.count(F.lit(1)).alias("n"))
    nulls = [F.lit(None).cast("long").alias(c) for c in ("n_tokens", "n_langs")]
    rejected = (
        n_base.crossJoin(F.broadcast(n_gated.select(F.col("n").alias("g"))))
        .select(
            F.lit("rejected_quality").alias("bucket"),
            (F.col("n") - F.col("g")).alias("n_docs"),
            *nulls,
        )
    )
    removed = (
        n_gated.crossJoin(F.broadcast(n_surv.select(F.col("n").alias("s"))))
        .select(
            F.lit("removed_duplicates").alias("bucket"),
            (F.col("n") - F.col("s")).alias("n_docs"),
            *nulls,
        )
    )
    return splits.unionByName(rejected).unionByName(removed)


# ---------------------------------------------------------------------------
# q200: split stratification audit — chi-square balance by language
# ---------------------------------------------------------------------------

def _prep_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_PREP_KEPT_SQL``'s ``kept`` frame (the q199
    pipeline through gate -> dedup -> bucket), factored so q199/q200
    cannot drift; the survivor aggregate is memoized, so the two
    queries share one materialization."""
    docs = _t(spark, sf_dir, "documents")
    gated = docs.select(
        "doc_id",
        "text",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("toks"),
        "n_chars",
    ).filter(
        F.col("n_chars").between(_PREP_MIN_CHARS, _PREP_MAX_CHARS)
        & (F.col("toks") >= _PREP_MIN_TOKS)
    )
    keyed = gated.select("doc_id", "lang", "toks", F.md5("text").alias("k"))
    surv = memoized_persist(
        keyed.groupBy("k").agg(
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("toks", "doc_id").alias("toks"),
        )
    )
    b = F.conv(F.substring(F.md5("k"), 1, 6), 16, 10).cast("long") % 10
    bucket = F.when(b < 8, "train").when(b == 8, "val").otherwise("test")
    return surv.select("lang", "toks", bucket.alias("bucket"))


@_q(
    "q200_split_balance_audit",
    f"""
    WITH {_PREP_KEPT_SQL},
    cells AS (
      SELECT bucket, lang, CAST(count(*) AS BIGINT) AS n
      FROM kept GROUP BY bucket, lang
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM cells),
    bt AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY bucket),
    lt AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM cells GROUP BY lang)
    SELECT c.bucket, c.lang, c.n AS n_docs,
           floor((CAST(bt.nb AS DOUBLE) * lt.nl / tot.nt) * 10000 + 0.5) / 10000
             AS expected,
           floor(((c.n - CAST(bt.nb AS DOUBLE) * lt.nl / tot.nt)
                  * (c.n - CAST(bt.nb AS DOUBLE) * lt.nl / tot.nt))
                 / (CAST(bt.nb AS DOUBLE) * lt.nl / tot.nt) * 1000000 + 0.5)
             / 1000000 AS chi2
    FROM cells c JOIN bt ON bt.bucket = c.bucket
                 JOIN lt ON lt.lang = c.lang
                 CROSS JOIN tot
    """,
)
def q200_split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split stratification audit over the q199 survivors: per
    (split, language) cell, the observed count, the
    independence-expected count (row total x column total / grand
    total), and the chi-square contribution — the QA gate that tells
    you whether a hash split accidentally concentrated a language in
    one split (a content hash is language-blind, so contributions
    should be noise-small; a spike means the split is confounded and
    per-language eval metrics will lie). SHARES the q199 pipeline
    verbatim (`_prep_survivors` / `_PREP_KEPT_SQL` — one factored
    definition on each side, and the memoized survivor aggregate
    materializes once for both queries). The margins are bounded
    (3 splits x #languages), so everything after the cell count rides
    broadcasts; expected/chi2 are exact-int ratios phrased identically
    — `(n-e)*(n-e)/e`, never `pow`."""
    kept = _prep_survivors(spark, sf_dir)
    cells = kept.groupBy("bucket", "lang").agg(F.count(F.lit(1)).alias("n"))
    cells = memoized_persist(cells)
    tot = cells.agg(F.sum("n").alias("nt"))
    bt = cells.groupBy("bucket").agg(F.sum("n").alias("nb"))
    lt = cells.groupBy("lang").agg(F.sum("n").alias("nl"))
    e = F.col("nb").cast("double") * F.col("nl") / F.col("nt")
    d = F.col("n") - e
    return (
        cells.join(F.broadcast(bt), "bucket")
        .join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "lang",
            F.col("n").alias("n_docs"),
            (F.floor(e * 10000 + F.lit(0.5)) / 10000).alias("expected"),
            (F.floor((d * d) / e * 1000000 + F.lit(0.5)) / 1000000).alias("chi2"),
        )
    )
