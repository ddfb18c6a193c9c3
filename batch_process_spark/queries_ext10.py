"""Query catalog part 11 (q161-q177): planar grid radius join (the 2-D
bucketed-join family), CUSUM change-point detection, per-key lag-1
autocorrelation, pointer-doubling hierarchy ops (q164/q174), leakage-
safe splits, clustering coefficient, Benford audit, the engine-native
UDTF surface (q168), PageRank, HLL rollups, the three staged-stream
queries (q171-q173: near-dup ingest, top-k serving, media ingest),
interval max-concurrency, decay scores, and the equi-depth histogram —
all in exact integer arithmetic until one final, identically-phrased
double expression, per the catalog's determinism discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from batch_process_spark.operators.caching import memoized_persist, staged_slices
from batch_process_spark.queries import _q, _query_vectors_table, _t

# ---------------------------------------------------------------------------
# q161: grid-bucketed planar radius join (spatial self-join, never all-pairs)
# ---------------------------------------------------------------------------

#: centi-degree grid: y in [0, 18000), x in [0, 36000), radius 150
#: (1.5 deg). Coordinates are md5-derived so the two axes decorrelate —
#: two LINEAR hashes of the same key put every point on a lattice line
#: (measured: zero close pairs at sf0.01); md5 nibbles are uniform.
_GRID_R = 150

#: the ONE definition of the lattice, shared by every spatial query
#: (q161 here, q181 in part 12) and by both engines: the Spark
#: projection below and this SQL fragment must stay byte-equivalent.
_LATTICE_SQL = """
      SELECT c_custkey,
             CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 6)) AS BIGINT)
               % 18000 AS y,
             CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 7, 6)) AS BIGINT)
               % 36000 AS x
      FROM customer"""


def customer_lattice(cust: DataFrame) -> DataFrame:
    """(c_custkey, y, x) on the shared md5 centi-degree lattice —
    the Spark twin of ``_LATTICE_SQL``."""

    def hexpart(pos: int):
        return F.conv(
            F.substring(F.md5(F.col("c_custkey").cast("string")), pos, 6), 16, 10
        ).cast("long")

    return cust.select(
        "c_custkey",
        (hexpart(1) % 18000).alias("y"),
        (hexpart(7) % 36000).alias("x"),
    )


@_q(
    "q161_grid_radius_join",
    f"""
    WITH p AS ({_LATTICE_SQL}
    )
    SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
           CAST((a.y - b.y) * (a.y - b.y)
              + (a.x - b.x) * (a.x - b.x) AS BIGINT) AS dist2
    FROM p a JOIN p b
      ON a.c_custkey < b.c_custkey
     AND (a.y - b.y) * (a.y - b.y) + (a.x - b.x) * (a.x - b.x)
         < {_GRID_R * _GRID_R}
    """,
)
def q161_grid_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planar radius self-join over synthetic customer coordinates
    (md5-derived integer centi-degrees — deterministic, engine-portable,
    and axis-decorrelated) via ``operators/spatial.py::grid_radius_join``:
    the plane tiles into radius-sized cells, the right side replicates to
    its 3x3 neighborhood (O(1) fan-out), and the join is a hash equi-join
    on the cell id with the exact integer squared-distance residual — the
    2-D member of the bucketed-join family (1-D time: interval_join q75;
    ordered: as-of q39). The oracle brute-forces the same predicate
    (all-pairs is fine at oracle scale and is exactly what the grid plan
    must reproduce). Never all-pairs in Spark: candidate pairs are
    bounded by cell density (hot-cell skew salts like any hot join key).
    Distances are exact integers end to end — no trig, no floats, no
    cross-engine seam; the planar (no-wraparound) contract is the query's
    own semantics, identical in both engines."""
    from batch_process_spark.operators.spatial import grid_radius_join

    p = customer_lattice(_t(spark, sf_dir, "customer"))
    joined = grid_radius_join(p, p, "y", "x", radius=_GRID_R)
    dy = F.col("y") - F.col("y_r")
    dx = F.col("x") - F.col("x_r")
    return (
        joined.filter(F.col("c_custkey") < F.col("c_custkey_r"))
        .select(
            F.col("c_custkey").alias("cust_a"),
            F.col("c_custkey_r").alias("cust_b"),
            (dy * dy + dx * dx).cast("long").alias("dist2"),
        )
    )


# ---------------------------------------------------------------------------
# q162: CUSUM change-point detection (max(0, ...) recursion as two windows)
# ---------------------------------------------------------------------------


@_q(
    "q162_cusum_changepoint",
    """
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE user_id < 50 GROUP BY 1, 2
    ), scaled AS (
      SELECT user_id, day, cents,
             CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_days,
             cents * count(*) OVER (PARTITION BY user_id)
               - sum(cents) OVER (PARTITION BY user_id) AS d
      FROM daily
    ), walked AS (
      SELECT user_id, day, n_days,
             sum(d) OVER (PARTITION BY user_id ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS c
      FROM scaled
    ), s AS (
      SELECT user_id, day, n_days,
             c - least(CAST(0 AS BIGINT),
                       min(c) OVER (PARTITION BY user_id ORDER BY day
                                    ROWS UNBOUNDED PRECEDING)) AS stat
      FROM walked
    ), m AS (
      SELECT user_id, day, n_days, stat,
             max(stat) OVER (PARTITION BY user_id) AS max_s
      FROM s
    )
    SELECT user_id, CAST(min(day) AS VARCHAR) AS change_day,
           CAST(max_s AS BIGINT) AS max_s,
           n_days
    FROM m WHERE stat = max_s
    GROUP BY user_id, max_s, n_days
    """,
)
def q162_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection per user over the daily
    cents series. The textbook statistic is recursive —
    ``S_i = max(0, S_{i-1} + d_i)`` — which no SQL window expresses
    directly; the exact rewrite is ``S_i = C_i - min(0, min_{j<=i} C_j)``
    (running sum minus its running minimum clamped at zero), two plain
    user-partitioned windows. Deviations stay integer by scaling:
    ``d_i = n*x_i - sum(x)`` (n times the mean-centered value), so every
    statistic is exact and the argmax day (earliest on ties) is
    deterministic in both engines. The detected change point is the day
    the positive drift statistic peaks. Shuffle shape: one exchange on
    (user, day) for the rollup, then every window and the final pick
    ride a single user_id partitioning — at 100 TB the series table
    shuffles once; no window is unpartitioned."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    daily = (
        ev.filter(F.col("user_id") < 50)
        .groupBy("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(cents).alias("cents"))
    )
    w_u = Window.partitionBy("user_id")
    w_run = w_u.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scaled = daily.select(
        "user_id",
        "day",
        F.count(F.lit(1)).over(w_u).cast("long").alias("n_days"),
        (F.col("cents") * F.count(F.lit(1)).over(w_u) - F.sum("cents").over(w_u)).alias("d"),
    )
    walked = scaled.withColumn("c", F.sum("d").over(w_run))
    s = walked.withColumn(
        "stat", F.col("c") - F.least(F.lit(0).cast("long"), F.min("c").over(w_run))
    )
    m = s.withColumn("max_s", F.max("stat").over(w_u))
    return (
        m.filter(F.col("stat") == F.col("max_s"))
        .groupBy("user_id", "max_s", "n_days")
        .agg(F.min("day").cast("string").alias("change_day"))
        .select("user_id", "change_day", F.col("max_s").cast("long"), "n_days")
    )


# ---------------------------------------------------------------------------
# q163: per-key lag-1 autocorrelation (exact integer sums, one double seam)
# ---------------------------------------------------------------------------


@_q(
    "q163_lag1_autocorr",
    """
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE user_id < 60 GROUP BY 1, 2
    ), lagged AS (
      SELECT user_id, cents AS x,
             lag(cents) OVER (PARTITION BY user_id ORDER BY day) AS y
      FROM daily
    ), sums AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_pairs,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM lagged WHERE y IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, n_pairs,
           CASE WHEN n_pairs * sxx - sx * sx = 0 OR n_pairs * syy - sy * sy = 0
                THEN NULL
                ELSE CAST(floor(
                  CAST(n_pairs * sxy - sx * sy AS DOUBLE) * 1000000.0
                  / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                         * CAST(n_pairs * syy - sy * sy AS DOUBLE))
                  + 0.5) AS BIGINT)
           END AS r_micro
    FROM sums WHERE n_pairs >= 2
    """,
)
def q163_lag1_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each user's daily series — the
    time-series diagnostic (is today's spend predicted by yesterday's?)
    q116's group regression doesn't cover, because here BOTH variables
    come from the same column via a lag window. Pearson r over the
    (x_t, x_{t-1}) pairs from the computational formula's integer
    sums: n*Sxy - Sx*Sy over sqrt((n*Sxx - Sx^2)(n*Syy - Sy^2)) — every
    sum is an exact bigint; the single float seam is the final
    division+sqrt, phrased IDENTICALLY in both engines (cast-to-double
    of exact integers, one multiply, one sqrt, one divide, half-up
    floor to micro units — each step correctly rounded IEEE, so
    bit-identical). Constant series (zero variance) yield NULL by the
    same CASE in both. Shuffle shape: the (user, day) rollup exchange,
    then the lag window and the per-user sums ride one user_id
    partitioning."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    daily = (
        ev.filter(F.col("user_id") < 60)
        .groupBy("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(cents).alias("cents"))
    )
    w = Window.partitionBy("user_id").orderBy("day")
    lagged = daily.select(
        "user_id", F.col("cents").alias("x"), F.lag("cents").over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    # Product sums ride decimal(38,0): the DuckDB oracle promotes
    # integer sums to HUGEINT, so long-typed sums here could silently
    # overflow (non-ANSI) where the oracle stays exact. Decimal keeps
    # both engines exact to 38 digits; the final correlation is a
    # single double division either way.
    dx = F.col("x").cast("decimal(19,0)")
    dy = F.col("y").cast("decimal(19,0)")
    sums = lagged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        # Plain sums ALSO ride decimal: sx*sx below squares them, and a
        # long sum would reintroduce the silent int64 wrap this block
        # exists to close (sums stay exact to 38 digits — same bound as
        # the product sums; DuckDB's HUGEINT is exact to 128 bits, so
        # the engines agree for |sx| < ~1e19, far past any real corpus).
        F.sum(dx).cast("decimal(38,0)").alias("sx"),
        F.sum(dy).cast("decimal(38,0)").alias("sy"),
        F.sum((dx * dy).cast("decimal(38,0)")).alias("sxy"),
        F.sum((dx * dx).cast("decimal(38,0)")).alias("sxx"),
        F.sum((dy * dy).cast("decimal(38,0)")).alias("syy"),
    )
    n_dec = F.col("n_pairs").cast("decimal(38,0)")
    vx = n_dec * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n_dec * F.col("syy") - F.col("sy") * F.col("sy")
    num = n_dec * F.col("sxy") - F.col("sx") * F.col("sy")
    r_micro = F.when((vx == 0) | (vy == 0), F.lit(None).cast("long")).otherwise(
        F.floor(
            num.cast("double") * 1000000.0
            / F.sqrt(vx.cast("double") * vy.cast("double"))
            + 0.5
        ).cast("long")
    )
    return sums.filter(F.col("n_pairs") >= 2).select(
        "user_id", "n_pairs", r_micro.alias("r_micro")
    )


# ---------------------------------------------------------------------------
# q164: hierarchy flattening via pointer doubling (parallel list ranking)
# ---------------------------------------------------------------------------


@_q(
    "q164_hierarchy_flatten",
    """
    WITH RECURSIVE walk(node, cur, depth) AS (
      SELECT p_partkey, p_partkey, CAST(0 AS BIGINT) FROM part
      UNION ALL
      SELECT node, cur // 10, depth + 1 FROM walk WHERE cur >= 10
    )
    SELECT node AS p_partkey, CAST(cur AS BIGINT) AS root, depth
    FROM walk WHERE cur < 10
    """,
)
def q164_hierarchy_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flatten a parent-child hierarchy to (node, root, depth) — the
    org-chart/BOM staple SQL does with a recursive CTE and Spark has no
    operator for. Tree: parent(k) = k div 10, root when k < 10 (depth =
    digits - 1: 7 at sf100's ~20M parts, 8 at sf1000 — but the
    ALGORITHM never uses that closed form). Implemented as POINTER
    DOUBLING (parallel list ranking) via
    ``operators/hierarchy.py::flatten_pointer_doubling``: state
    (node, anc, dist) self-joins on anc = node so every row's ancestor
    pointer jumps 2^r edges in round r — roots carry a self-loop of
    dist 0, making the jump idempotent once resolved. 4 rounds resolve
    depth 16 (17-digit keys — far past any scale factor, and the
    margin is structural, not data-dependent). At 100 TB the rounds
    run with checkpoint=True so each is ONE self-join of materialized
    state (4 shuffle rounds vs naive parent-chasing's one fact-scale
    join PER LEVEL) — without it Spark's missing self-join CSE doubles
    the plan every round; measured in BASELINE §5j. At this dimension
    scale the unmaterialized 16-leaf plan is cheaper, so checkpoint
    stays False here. The oracle walks the same tree recursively."""
    from batch_process_spark.operators.hierarchy import flatten_pointer_doubling

    part = _t(spark, sf_dir, "part").select("p_partkey")
    is_root = F.col("p_partkey") < 10
    parents = part.select(
        F.col("p_partkey").alias("node"),
        F.when(is_root, F.col("p_partkey"))
        .otherwise(F.floor(F.col("p_partkey") / 10).cast("long"))
        .alias("parent"),
    )
    # 2^4 = 16 >= max depth (sf100 is depth 7, sf1000 depth 8)
    return flatten_pointer_doubling(parents, rounds=4).select(
        F.col("node").alias("p_partkey"), "root", "depth"
    )


# ---------------------------------------------------------------------------
# q165: leakage-safe train/eval split (group split by dedup fingerprint)
# ---------------------------------------------------------------------------


@_q(
    "q165_leakage_safe_split",
    """
    WITH h AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(string_split(text, ' '), 1, 16), ' ')) AS fp
      FROM documents
    ),
    b AS (
      SELECT doc_id, fp,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) % 10 < 8
               AS naive_train,
             CAST(('0x' || substr(md5(fp), 1, 6)) AS BIGINT) % 10 < 8
               AS safe_train
      FROM h
    ),
    pairs AS (
      SELECT CAST(count(*) FILTER (a.naive_train <> b2.naive_train) AS BIGINT) AS naive_cross,
             CAST(count(*) FILTER (a.safe_train <> b2.safe_train) AS BIGINT) AS safe_cross,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM b a JOIN b b2 ON a.fp = b2.fp AND a.doc_id < b2.doc_id
    )
    SELECT s.strategy, s.n_train, s.n_eval, p.n_pairs,
           CASE WHEN s.strategy = 'naive_by_doc' THEN p.naive_cross
                ELSE p.safe_cross END AS cross_split_pairs
    FROM (
      SELECT 'naive_by_doc' AS strategy,
             CAST(count(*) FILTER (naive_train) AS BIGINT) AS n_train,
             CAST(count(*) FILTER (NOT naive_train) AS BIGINT) AS n_eval
      FROM b
      UNION ALL
      SELECT 'group_by_fingerprint',
             CAST(count(*) FILTER (safe_train) AS BIGINT),
             CAST(count(*) FILTER (NOT safe_train) AS BIGINT)
      FROM b
    ) s CROSS JOIN pairs p
    """,
)
def q165_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/eval splitting — the governance step between
    dedup (q18/q112) and the hash split (q91): near-duplicate documents
    must land in the SAME split or the eval set leaks into training.
    Naive per-doc hash splitting strands ~2*p*(1-p) of each duplicate
    cluster across the boundary; splitting by the duplicate GROUP key
    (the 16-token prefix fingerprint — q112/q157's blocking key) makes
    cross-split contamination structurally zero. The query measures
    both strategies on the same corpus: per-split doc counts plus the
    number of fingerprint-sharing pairs that straddle the boundary
    (naive > 0 on real data — non-vacuity pinned by pytest — and
    group-keyed = 0 BY CONSTRUCTION, which is the point). Scale shape:
    split assignment is map-only (md5 both engines); the audit join is
    the q157 blocking join at fingerprint granularity, never
    all-pairs; the two strategy rows broadcast the 1-row pair stats."""
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 16), " "))
    bucket = lambda col: (
        F.conv(F.substring(F.md5(col), 1, 6), 16, 10).cast("long") % 10 < 8
    )
    b = docs.select(
        "doc_id",
        fp.alias("fp"),
        bucket(F.col("doc_id").cast("string")).alias("naive_train"),
        bucket(fp).alias("safe_train"),
    )
    rhs = b.select(
        F.col("doc_id").alias("doc_id2"),
        F.col("fp"),
        F.col("naive_train").alias("nt2"),
        F.col("safe_train").alias("st2"),
    )
    pairs = (
        b.join(rhs, "fp")
        .filter(F.col("doc_id") < F.col("doc_id2"))
        .agg(
            F.sum((F.col("naive_train") != F.col("nt2")).cast("long")).alias("naive_cross"),
            F.sum((F.col("safe_train") != F.col("st2")).cast("long")).alias("safe_cross"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    counts = b.agg(
        F.sum(F.col("naive_train").cast("long")).alias("naive_tr"),
        F.sum((~F.col("naive_train")).cast("long")).alias("naive_ev"),
        F.sum(F.col("safe_train").cast("long")).alias("safe_tr"),
        F.sum((~F.col("safe_train")).cast("long")).alias("safe_ev"),
    )
    both = counts.crossJoin(F.broadcast(pairs))
    naive_row = both.select(
        F.lit("naive_by_doc").alias("strategy"),
        F.col("naive_tr").alias("n_train"),
        F.col("naive_ev").alias("n_eval"),
        "n_pairs",
        F.col("naive_cross").alias("cross_split_pairs"),
    )
    safe_row = both.select(
        F.lit("group_by_fingerprint").alias("strategy"),
        F.col("safe_tr").alias("n_train"),
        F.col("safe_ev").alias("n_eval"),
        "n_pairs",
        F.col("safe_cross").alias("cross_split_pairs"),
    )
    return naive_row.unionByName(safe_row)


# ---------------------------------------------------------------------------
# q166: local clustering coefficient (triangles / possible wedges per node)
# ---------------------------------------------------------------------------


@_q(
    "q166_clustering_coefficient",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey <= 2000
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    tri AS (
      SELECT e1.u, e1.v, e2.v AS w
      FROM edges e1
      JOIN edges e2 ON e1.v = e2.u
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tcnt AS (
      SELECT part AS node, CAST(count(*) AS BIGINT) AS n_tri
      FROM (SELECT unnest([u, v, w]) AS part FROM tri)
      GROUP BY part
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree
      FROM (SELECT u AS node, v FROM edges UNION ALL SELECT v, u FROM edges)
      GROUP BY node
    )
    SELECT d.node AS l_partkey, d.degree,
           CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
           CAST(2 * coalesce(t.n_tri, 0) * 1000000
                // (d.degree * (d.degree - 1)) AS BIGINT) AS coef_micro
    FROM deg d LEFT JOIN tcnt t ON d.node = t.node
    WHERE d.degree >= 2
    """,
)
def q166_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node — 2*T(v) / (deg(v) *
    (deg(v)-1)) in exact integer micro units (integer div, bit-identical
    both engines) — the how-cliquish-is-my-neighborhood metric layered
    on q149's edge-iterator triangle enumeration (same canonical u<v<w
    wedge join + closure semi-join, each triangle counted once, then
    per-corner participation via explode). Degrees come from one
    symmetric-union aggregation of the persisted edge set; nodes with
    no triangles keep coefficient 0 through the LEFT join (coalesce).
    Every stage is edge-granularity — no adjacency matrix, no driver
    state; hub-node wedge skew salts like any hot key."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    from batch_process_spark.operators.graph import copurchase_edges, triangles_per_node

    edges = memoized_persist(copurchase_edges(li, "l_orderkey", "l_partkey"))
    tcnt = triangles_per_node(edges)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    out = (
        deg.filter(F.col("degree") >= 2)
        .join(tcnt, "node", "left")
        .select(
            F.col("node").alias("l_partkey"),
            "degree",
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
        )
    )
    coef = F.expr("2 * n_tri * 1000000L div (degree * (degree - 1))")
    return out.withColumn("coef_micro", coef.cast("long"))


# ---------------------------------------------------------------------------
# q167: Benford first-digit audit (exact integers, no log10 seam)
# ---------------------------------------------------------------------------

#: Benford P(d) = log10(1 + 1/d) in micro units, HARDCODED: computing
#: log10 at query time would put a not-correctly-rounded libm/JVM call
#: on both sides of the oracle — a 1-ulp seam a floor() can flip.
_BENFORD_MICRO = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@_q(
    "q167_benford_audit",
    """
    WITH d AS (
      SELECT substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR), 1, 1)
               AS digit
      FROM orders WHERE o_totalprice >= 0.01
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d),
    c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit)
    SELECT c.digit, c.n,
           c.n * 1000000 AS observed_ppm_x_total,
           n.total * CASE c.digit
             WHEN '1' THEN 301030 WHEN '2' THEN 176091 WHEN '3' THEN 124939
             WHEN '4' THEN 96910  WHEN '5' THEN 79181  WHEN '6' THEN 66947
             WHEN '7' THEN 57992  WHEN '8' THEN 51153  WHEN '9' THEN 45757
           END AS expected_ppm_x_total
    FROM c CROSS JOIN n
    """,
)
def q167_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over order totals — the
    fraud/synthetic-data smell test a data-quality suite runs on any
    monetary column. The digit is extracted WITHOUT floats: exact
    integer cents (the catalog's half-up idiom), cast to string
    (bigint rendering is identical in every engine — double rendering
    is not), first character; shifting the decimal point by 2 never
    changes the leading significant digit for values >= 0.01. Both
    observed and expected frequencies stay integer by comparing in
    cross-multiplied ppm (n * 1e6 vs total * P_micro) with Benford's
    probabilities HARDCODED in micro units — a query-time log10 would
    be a 1-ulp libm/JVM seam. Map-only until a 9-group agg: the 100 TB
    plan is scan -> project -> tiny hash agg; the 1-row total
    broadcasts back."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 0.01)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    d = orders.select(F.substring(cents.cast("string"), 1, 1).alias("digit"))
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    n = d.agg(F.count(F.lit(1)).alias("total"))
    pm = F.create_map(
        *[x for k, v in _BENFORD_MICRO.items() for x in (F.lit(str(k)), F.lit(v))]
    )
    return (
        c.crossJoin(F.broadcast(n))
        .select(
            "digit",
            "n",
            (F.col("n") * 1000000).alias("observed_ppm_x_total"),
            (F.col("total") * pm[F.col("digit")]).alias("expected_ppm_x_total"),
        )
    )


# ---------------------------------------------------------------------------
# q168: Python UDTF (engine-native table function) under the oracle
# ---------------------------------------------------------------------------


@_q(
    "q168_udtf_token_windows",
    """
    WITH t2 AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      FROM documents WHERE doc_id < 200
    ),
    w AS (
      -- parallel unnest zips positionally in DuckDB
      SELECT doc_id, toks,
             unnest(generate_series(0, greatest(len(toks) - 1, 0), 8)) AS s,
             CAST(unnest(generate_series(1, (greatest(len(toks) - 1, 0)) // 8 + 1))
                  - 1 AS INTEGER) AS idx
      FROM t2 WHERE len(toks) > 0
    )
    SELECT doc_id, idx,
           CAST(least(16, len(toks) - s) AS INTEGER) AS n_tokens,
           md5(array_to_string(list_slice(toks, s + 1, s + 16), ' ')) AS window_md5
    FROM w
    """,
)
def q168_udtf_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token windows (width 16, stride 8) through a
    REGISTERED PYTHON UDTF (functions/udtfs.py `TokenWindows`) consumed
    as a SQL LATERAL table function — the engine-native §2.12 1->N
    surface, now under the full value-hash oracle rather than pytest
    alone (the sliding-context cut an LLM pipeline makes for training
    windows; the non-overlapping Arrow twin is q76). The oracle states
    the identical start arithmetic with zipped parallel unnests.
    Row-at-a-time Python is the slow path — functions/udtfs.py points
    corpus-scale 1->N work at the Arrow kernels; this query pins the
    API's correctness, capped at 200 docs. The md5 keeps long window
    strings out of the driver's row sort."""
    from batch_process_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    docs.createOrReplaceTempView("q168_docs")
    return spark.sql(
        """
        SELECT d.doc_id, w.idx, w.n_tokens, md5(w.window) AS window_md5
        FROM q168_docs d, LATERAL token_windows(d.text, 16, 8) w
        """
    )


# ---------------------------------------------------------------------------
# q169: PageRank by power iteration (fixed 5 rounds, damping 0.85)
# ---------------------------------------------------------------------------

_PR_D = 0.85
_PR_ITERS = 5


def _pagerank_oracle() -> str:
    """Unrolled-CTE oracle: DuckDB's recursive CTEs forbid aggregates
    in the recursive term, so the fixed iteration count is unrolled
    textually — r1..r5 each restate one power-iteration step."""
    base = """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey <= 2000
    ),
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    edges AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY u),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM deg),
    r0 AS (SELECT node, outdeg, 1.0 / n_nodes AS rank FROM deg CROSS JOIN n)
    """
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(
            f"""r{i} AS (
      SELECT d.node, d.outdeg,
             {1 - _PR_D} / n.n_nodes + {_PR_D} * COALESCE(s.s, 0) AS rank
      FROM deg d CROSS JOIN n
      LEFT JOIN (
        SELECT e.v AS node, sum(r.rank / r.outdeg) AS s
        FROM r{i - 1} r JOIN edges e ON r.node = e.u GROUP BY e.v
      ) s ON d.node = s.node
    )"""
        )
    return (
        base
        + ", "
        + ",\n    ".join(steps)
        + f"""
    SELECT node AS l_partkey, round(rank * n.n_nodes, 6) AS rank_rel
    FROM r{_PR_ITERS} CROSS JOIN n
    ORDER BY rank_rel DESC, l_partkey ASC LIMIT 20
    """
    )


@_q("q169_pagerank", _pagerank_oracle())
def q169_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-purchase graph (q149's orderkey-capped
    edge set, symmetrized) by POWER ITERATION — the FACT-SCALE sibling
    of q139 (which runs weighted integer PageRank over the 25-node
    nation graph, where the rank vector broadcasts): here the graph is
    corpus-derived (thousands to billions of nodes), so each round is
    a real state><edges shuffle join at edge granularity — the shape
    that survives when the rank vector no longer fits a broadcast.
    5 fixed rounds of
    rank'(v) = (1-d)/N + d * sum(rank(u)/outdeg(u) over in-neighbors),
    d = 0.85 — the canonical iterative-algorithm shape Spark expresses
    as a per-round (state >< edges) equi-join + groupBy(v) partial-agg
    sum, with NOTHING driver-side: N rides a 1-row broadcast crossJoin,
    the edge set is persisted once via the bounded memo pool and
    re-read every round, and each round's plan appends one join + one
    aggregation to a LINEAR lineage (state joins the fixed edge frame,
    never itself — no self-join plan doubling, the trap
    operators/hierarchy.py documents for pointer doubling; at true
    scale the rounds checkpoint like §5j measures). Symmetrizing the
    graph removes dangling nodes by construction, so no rank mass
    leaks and the per-round mass total stays 1 (a float-drift-tolerant
    invariant, not an oracle column). Output is the top-20 by rank
    RELATIVE to uniform (rank * N, rounded to 6 decimals — ~1.0-scale
    values where raw ranks at 1/N-scale would round to 3 significant
    digits), ordered by the ROUNDED value then node in BOTH engines so
    the limit cut is deterministic under float sum-order drift. The
    oracle unrolls the 5 iterations as chained CTEs."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    from batch_process_spark.operators.graph import copurchase_edges

    e0 = copurchase_edges(li, "l_orderkey", "l_partkey")
    edges = memoized_persist(
        e0.unionByName(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    from batch_process_spark.operators.graph import pagerank

    ranks = pagerank(edges, iters=_PR_ITERS, damping=_PR_D)
    n = (
        edges.select("u")
        .distinct()
        .agg(F.count(F.lit(1)).cast("double").alias("n_nodes"))
    )
    return (
        ranks.crossJoin(F.broadcast(n))
        .select(
            F.col("node").alias("l_partkey"),
            F.round(F.col("rank") * F.col("n_nodes"), 6).alias("rank_rel"),
        )
        .orderBy(F.desc("rank_rel"), F.asc("l_partkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q170: hierarchical HLL rollup — day registers merged to week estimates
# ---------------------------------------------------------------------------


def _q170_oracle() -> str:
    from batch_process_spark.queries_ext8 import (
        _DUCK_HLL_REGS_FROM_K,
        _duck_hll_estimate,
    )

    return f"""
    WITH k AS (
      SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS scope,
             CAST(user_id AS VARCHAR) AS key
      FROM events
    ), {_DUCK_HLL_REGS_FROM_K}, wr AS (
      SELECT CAST(CAST(date_trunc('week', CAST(scope AS DATE)) AS DATE) AS VARCHAR) AS week,
             bucket, max(max_rho) AS max_rho
      FROM regs GROUP BY 1, 2
    ), est AS ({_duck_hll_estimate("week", "wr")}
    ), ex AS (
      SELECT CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) AS week,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY 1
    )
    SELECT est.week, exact_distinct, hll_estimate,
           CAST(floor(abs(hll_estimate - exact_distinct) * 10000.0
                      / exact_distinct + 0.5) AS BIGINT) AS err_bp
    FROM est JOIN ex ON est.week = ex.week
    """


@_q("q170_hll_week_rollup", _q170_oracle())
def q170_hll_week_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical sketch rollup — the incremental-ingest pattern that
    makes sketches the 100 TB distinct-count tool: per-DAY HyperLogLog
    registers (p=8, built once at ingest, <= days x 256 rows) merge to
    per-WEEK distinct-user estimates by register-wise MAX, never
    re-reading raw events — yesterday's raw data can be cold/deleted
    and every coarser granularity (week here; month/quarter
    identically) still answers from the register table. Where q127
    merges across STREAMS (per-type -> ALL in one grouping-sets pass),
    this merges across TIME LEVELS from a stored finer-grained sketch.
    The estimate is exact-integer arithmetic below one double division
    (shared fragment), so the DuckDB oracle hash-matches bit-for-bit;
    exact_distinct is validation-only — at scale it is the full
    re-scan the rollup exists to avoid."""
    from batch_process_spark.operators.sketches import (
        hll_estimate,
        hll_register_table,
    )

    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    keyed = ev.select(
        day.cast("string").alias("day"),
        F.col("user_id").cast("string").alias("key"),
    )
    day_regs = hll_register_table(keyed, "key", ["day"])
    week = F.date_trunc("week", F.col("day").cast("date")).cast("date").cast("string")
    week_regs = (
        day_regs.select(week.alias("week"), "bucket", "max_rho")
        .groupBy("week", "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    est = hll_estimate(week_regs, ["week"])
    exact = (
        ev.select(
            F.date_trunc("week", F.col("ts")).cast("date").cast("string").alias("week"),
            "user_id",
        )
        .groupBy("week")
        .agg(F.count_distinct("user_id").alias("exact_distinct"))
    )
    return est.join(exact, "week").select(
        "week",
        "exact_distinct",
        "hll_estimate",
        F.floor(
            F.abs(F.col("hll_estimate") - F.col("exact_distinct")) * 10000.0
            / F.col("exact_distinct")
            + 0.5
        )
        .cast("long")
        .alias("err_bp"),
    )


# ---------------------------------------------------------------------------
# q171: streaming near-dup against a static corpus LSH index
# ---------------------------------------------------------------------------

def _q171_table(sf_dir: str):
    """Mutated-copy documents (the q18 near-dup mutations: doc_id % 20
    == 0, id + 1000000, suffix appended)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pandas()
    pdf = pdf[pdf["doc_id"] % 20 == 0]
    return pa.table(
        {
            "doc_id": pa.array((pdf["doc_id"] + 1000000).to_numpy(), pa.int64()),
            "text": pa.array(
                (pdf["text"].astype(str) + " extra trailing words appended").tolist(),
                pa.string(),
            ),
        }
    )


def _q171_slices(sf_dir: str, n_slices: int = 3):
    return staged_slices(sf_dir, "q171_slices_", _q171_table, n_slices)


def _q171_oracle() -> str:
    from batch_process_spark.operators import dedup
    from batch_process_spark.queries_ext import _NEAR_DUP_CORPUS, duck_shingles

    num_hashes, bands, threshold = 16, 4, 0.7
    rows = num_hashes // bands
    sh = duck_shingles("text", 3)
    P = dedup.MINHASH_P
    minhashes = ", ".join(
        f"list_aggregate(list_transform(xs, x -> ({dedup.MINHASH_A[j]} * x + {dedup.MINHASH_B[j]}) % {P}), 'min') AS m{j}"
        for j in range(num_hashes)
    )
    band_exprs = ", ".join(
        "md5(concat_ws('|', '%d', %s))" % (b, ", ".join(f"m{b * rows + r}" for r in range(rows)))
        for b in range(bands)
    )
    return f"""
    WITH corpus AS ({_NEAR_DUP_CORPUS}),
    docs AS (SELECT doc_id, {sh} AS shingles FROM corpus),
    fps AS (SELECT doc_id, shingles,
                   list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS xs
            FROM docs),
    sigs AS (SELECT doc_id, shingles, {minhashes} FROM fps),
    banded AS (
      SELECT doc_id, unnest([{band_exprs}]) AS band_key FROM sigs
    ),
    cands AS (
      SELECT DISTINCT l.doc_id AS stream_id, r.doc_id AS corpus_id
      FROM banded l JOIN banded r USING (band_key)
      WHERE l.doc_id >= 1000000 AND r.doc_id < 1000000
    )
    SELECT stream_id, corpus_id,
           round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                 (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 6)
             AS jaccard_sim
    FROM cands
    JOIN docs a ON a.doc_id = cands.stream_id
    JOIN docs b ON b.doc_id = cands.corpus_id
    WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
          (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= {threshold}
    """


@_q("q171_streaming_neardup", _q171_oracle())
def q171_streaming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-ingest near-dup shape RUN AS A REAL STREAM: the base
    documents table is indexed once (banded MinHash signatures,
    persisted — ``streaming/neardup.py::build_lsh_index``) and the q18
    mutated copies arrive as three real micro-batches, each checked
    against the index map-side + one stream-static band-key equi-join
    (``stream_neardup_against_corpus``). STATELESS streaming: no
    watermark requirement, no state store — the index is a cached
    table, so ingest dedup scales with batch size, not corpus size.
    The oracle is the batch restatement (same band/signature SQL as
    q18, restricted to stream x corpus pairs) — streaming vs batch
    equivalence is CHECKED, not assumed. Per-band duplicate emissions
    within a batch are deduped at the sink (documented operator
    contract); kernel-identical signatures make the pairs bit-equal to
    the batch path's."""
    from batch_process_spark.streaming.neardup import (
        build_lsh_index,
        stream_neardup_against_corpus,
    )
    from batch_process_spark.streaming.windows import drive_stream_to_memory

    corpus = _t(spark, sf_dir, "documents").select("doc_id", "text")
    index = build_lsh_index(corpus)
    d, write_slice = _q171_slices(sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string").format("parquet").load(d)
    )
    out = stream_neardup_against_corpus(stream, index)
    result = drive_stream_to_memory(
        spark,
        out,
        "q171_out",
        "append",
        feeds=[lambda: write_slice(1), lambda: write_slice(2)],
    )
    try:
        return result.distinct()
    finally:
        index.unpersist()


# ---------------------------------------------------------------------------
# q172: streaming top-k similarity serving (foreachBatch over the kernel)
# ---------------------------------------------------------------------------

def _q172_slices(sf_dir: str, n_slices: int = 3):
    return staged_slices(sf_dir, "q172_slices_", _query_vectors_table, n_slices)


def _q172_oracle() -> str:
    from batch_process_spark.queries_ext import _DOT

    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 15),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round({_DOT.format(a='e.embedding', b='q.qe')} /
                   (sqrt({_DOT.format(a='e.embedding', b='e.embedding')}) *
                    sqrt({_DOT.format(a='q.qe', b='q.qe')})), 6) AS score
      FROM embeddings e CROSS JOIN q
    )
    SELECT query_id, vec_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 10
    """


@_q("q172_streaming_topk", _q172_oracle())
def q172_streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity SERVING as a real stream: 15 query vectors arrive
    over three micro-batches; each batch is answered against the
    persisted corpus by the exact q25 kernel inside ``foreachBatch``
    (``streaming/similarity.py::stream_topk_serving``) — the standard
    pattern for inference-shaped streaming work, since a per-query
    ranking window is inexpressible in append mode and retrieval needs
    no cross-batch state anyway. Every query is answered exactly once
    in its arrival batch, so the union of batch answers must equal the
    all-at-once batch answer — which is exactly what the oracle (the
    q25 brute-force SQL over all 15 queries) checks. Per batch the
    corpus is scanned once through the Arrow BLAS kernel; only
    partitions x Q x k candidate rows shuffle."""
    from batch_process_spark.streaming.similarity import stream_topk_serving

    corpus = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    d, write_slice = _q172_slices(sf_dir)
    stream = (
        spark.readStream.schema("query_id long, embedding array<float>")
        .format("parquet")
        .load(d)
    )
    # the promoted sink contract: per-batch answers are bounded at
    # k x queries-in-batch rows, and the guard keeps that honest
    from batch_process_spark.streaming.similarity import bounded_collect_sink
    from batch_process_spark.streaming.windows import drive_query

    sink, collected = bounded_collect_sink(max_rows_per_batch=10 * 15)
    q = stream_topk_serving(stream, corpus, sink, k=10)
    drive_query(q, [lambda: write_slice(1), lambda: write_slice(2)])
    return spark.createDataFrame(
        collected, "query_id long, vec_id long, score double, rank int"
    )


# ---------------------------------------------------------------------------
# q173: streaming multimodal ingest — header parse on arriving media
# ---------------------------------------------------------------------------

def _q173_table(sf_dir: str):
    """200 structurally valid PNG payloads (same dimensions recipe as
    q141's synth_png: w = 16 + id%64, h = 16 + 7id%64, CRCs correct)
    as a binary-column table — pure driver-side stdlib."""
    import os
    import struct
    import zlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    # Media ids are the 200 SMALLEST actual doc_ids — not assumed
    # 0..199 — so the oracle (same ORDER BY doc_id LIMIT 200) stays
    # aligned under any base offset, gaps, or a <200-row corpus.
    doc_ids = sorted(
        pq.read_table(
            os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"]
        )["doc_id"].to_pylist()
    )[:200]
    ids, blobs = [], []
    for i in doc_ids:
        w, h = 16 + i % 64, 16 + (i * 7) % 64
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        raw = zlib.compress(b"\x00" * (h * (1 + w)))
        ids.append(i)
        blobs.append(
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", raw) + chunk(b"IEND", b"")
        )
    return pa.table(
        {"media_id": pa.array(ids, pa.int64()), "content": pa.array(blobs, pa.binary())}
    )


def _q173_slices(sf_dir: str, n_slices: int = 3):
    return staged_slices(sf_dir, "q173_slices_", _q173_table, n_slices)


@_q(
    "q173_streaming_media_ingest",
    """
    SELECT doc_id AS media_id,
           'png' AS format,
           CAST(16 + doc_id % 64 AS INT)       AS width,
           CAST(16 + (doc_id * 7) % 64 AS INT) AS height
    FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 200)
    """,
)
def q173_streaming_media_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal intake as a REAL STREAM: genuine PNG containers
    (CRC-valid, staged driver-side) arrive over three micro-batches and
    flow through the stdlib header parser (`multimodal.parse_image_meta`,
    a map-only Arrow kernel — streaming-legal because it is stateless:
    zero shuffle, zero watermark, each payload parsed exactly once in
    its arrival batch). This is the q141 pipeline's streaming member,
    completing the family pattern of q171 (dedup) and q172 (serving):
    every corpus-scale intake op in this engine runs identically over
    batch and stream inputs, checked against the SAME oracle. The
    oracle states the expected dimensions independently of the parser."""
    from batch_process_spark.operators.multimodal import parse_image_meta
    from batch_process_spark.streaming.windows import drive_stream_to_memory

    d, write_slice = _q173_slices(sf_dir)
    stream = (
        spark.readStream.schema("media_id long, content binary")
        .format("parquet")
        .load(d)
    )
    out = parse_image_meta(stream).select("media_id", "format", "width", "height")
    return drive_stream_to_memory(
        spark,
        out,
        "q173_out",
        "append",
        feeds=[lambda: write_slice(1), lambda: write_slice(2)],
    )


# ---------------------------------------------------------------------------
# q174: BOM-style subtree rollup over the ancestor closure
# ---------------------------------------------------------------------------


@_q(
    "q174_subtree_rollup",
    """
    WITH RECURSIVE walk(node, anc, dist) AS (
      SELECT p_partkey, p_partkey, CAST(0 AS BIGINT) FROM part
      UNION ALL
      SELECT node, anc // 10, dist + 1 FROM walk WHERE anc >= 10
    ),
    cents AS (
      SELECT p_partkey, CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS c
      FROM part
    )
    SELECT w.anc AS p_partkey,
           CAST(count(*) AS BIGINT) AS n_subtree,
           CAST(sum(c.c) AS BIGINT) AS subtree_cents,
           CAST(max(w.dist) AS BIGINT) AS subtree_depth
    FROM walk w JOIN cents c ON c.p_partkey = w.node
    WHERE w.anc IN (SELECT p_partkey FROM part)
    GROUP BY w.anc
    """,
)
def q174_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOM/org-chart subtree rollup — for EVERY node of the digit
    hierarchy (parent(k) = k div 10, the q164 tree), the count, total
    retail value (exact integer cents), and depth of its inclusive
    subtree. The primitive underneath is
    ``operators/hierarchy.py::ancestor_closure``: the full (node,
    ancestor, dist) transitive closure built in ceil(log2(depth))
    self-joins (closure-by-doubling — q164's pointer doubling keeps
    only the furthest ancestor; subtree AGGREGATION needs every
    intermediate pair), then one groupBy(ancestor) over the closure
    joined to per-node payloads. Ancestors outside the part table
    (digit prefixes that aren't part keys) are dropped in both engines
    — the rollup is over REAL nodes. Closure size is N x avg-depth
    rows — the price any subtree-rollup formulation pays; at 100 TB
    the rounds run checkpoint=True (BASELINE §5j's materialization
    discipline). The oracle walks every ancestor chain recursively."""
    from batch_process_spark.operators.hierarchy import ancestor_closure

    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    is_root = F.col("p_partkey") < 10
    parents = part.select(
        F.col("p_partkey").alias("node"),
        F.when(is_root, F.col("p_partkey"))
        .otherwise(F.floor(F.col("p_partkey") / 10).cast("long"))
        .alias("parent"),
    )
    # rounds derived from the key range (r14): the digit hierarchy's
    # depth is (#digits - 1), and doubling needs ceil(log2(depth))
    # rounds — the old constant 4 covered depth 16, so at sf0.1 (max
    # key 19999, depth 4) two of the four rounds composed NOTHING new
    # but still paid a self-join + union over the full closure, and
    # the plan tripled per round. One tiny max() job at plan
    # construction (memoized with the plan); closure completeness is
    # unchanged (extra rounds were idempotent, fewer-but-sufficient
    # rounds produce the identical pair set).
    import math

    max_key = part.agg(F.max("p_partkey")).first()[0] or 1
    depth = max(1, len(str(int(max_key))) - 1)
    clo = ancestor_closure(parents, rounds=max(1, math.ceil(math.log2(depth))))
    # ancestors that are real part keys only (digit prefixes of a key
    # need not themselves be keys; the parents frame guarantees the
    # semi-join is the same filter the oracle's IN applies)
    keys = part.select(F.col("p_partkey").alias("anc"))
    return (
        clo.join(part.withColumnRenamed("p_partkey", "node"), "node")
        .join(keys.hint("shuffle_hash"), "anc", "left_semi")
        .groupBy("anc")
        .agg(
            F.count(F.lit(1)).alias("n_subtree"),
            F.sum("c").alias("subtree_cents"),
            F.max("dist").alias("subtree_depth"),
        )
        .select(
            F.col("anc").alias("p_partkey"),
            "n_subtree",
            "subtree_cents",
            "subtree_depth",
        )
    )


# ---------------------------------------------------------------------------
# q175: max concurrent intervals per user (the +1/-1 sweep)
# ---------------------------------------------------------------------------


@_q(
    "q175_max_concurrency",
    """
    WITH iv AS (
      SELECT user_id, ts AS s,
             ts + INTERVAL 1 MINUTE * (1 + CAST(floor(value) AS BIGINT) % 30) AS e
      FROM events WHERE user_id < 40
    ),
    pts AS (
      SELECT user_id, s AS t, CAST(1 AS BIGINT) AS delta FROM iv
      UNION ALL
      SELECT user_id, e AS t, CAST(-1 AS BIGINT) AS delta FROM iv
    ),
    swept AS (
      SELECT user_id,
             sum(delta) OVER (PARTITION BY user_id ORDER BY t, delta
                              ROWS UNBOUNDED PRECEDING) AS live
      FROM pts
    )
    SELECT user_id, CAST(max(live) AS BIGINT) AS max_concurrent
    FROM swept GROUP BY user_id
    """,
)
def q175_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum concurrent sessions per user — the +1/-1 SWEEP: each
    derived interval (start = ts, duration = 1 + floor(value) % 30
    minutes, integer arithmetic so both engines build identical
    endpoints) unpivots to a +1 start point and a -1 end point; a
    user-partitioned ordered running sum is the live-interval count
    and its max is the answer. End-exclusive semantics are pinned by
    the tie order (t, delta): at an exact start==end instant the -1
    sorts first, so back-to-back intervals never double-count — stated
    identically in both engines. The O(n log n) sweep replaces the
    O(n^2) self-join ("count intervals overlapping mine") and runs as
    ONE exchange on user_id + one window + one agg — the same
    single-partitioning discipline as q162; no unpartitioned window
    anywhere."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    dur_min = (1 + F.floor("value").cast("long") % 30).cast("int")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.make_interval(mins=dur_min)).alias("e"),
    )
    pts = iv.select(
        "user_id", F.col("s").alias("t"), F.lit(1).cast("long").alias("delta")
    ).unionByName(
        iv.select("user_id", F.col("e").alias("t"), F.lit(-1).cast("long").alias("delta"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pts.withColumn("live", F.sum("delta").over(w))
        .groupBy("user_id")
        .agg(F.max("live").alias("max_concurrent"))
    )


# ---------------------------------------------------------------------------
# q176: exponential time-decay engagement scores
# ---------------------------------------------------------------------------

_DECAY_TAU_HOURS = 24 * 7  # one-week time constant


@_q(
    "q176_decay_scores",
    f"""
    WITH t0 AS (SELECT max(ts) AS now FROM events),
    d AS (
      SELECT user_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             CAST(date_diff('second', ts, t0.now) AS BIGINT) AS age_s
      FROM events CROSS JOIN t0 WHERE user_id < 60
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(cents * exp(-(age_s / 3600.0) / {_DECAY_TAU_HOURS})) / 100.0, 4)
             AS decayed_value
    FROM d GROUP BY user_id
    """,
)
def q176_decay_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement value per user (one-week
    time constant) — the recency-weighted feature an LLM-data or
    ranking pipeline derives per entity: sum of cents * exp(-age/tau),
    anchored at the corpus max timestamp (a 1-row broadcast crossJoin,
    the q160 stats pattern — no eager job, no wall-clock dependence,
    so the result is a pure function of the data). Ages are exact
    integer SECONDS in both engines (timestamp subtraction before any
    float); each term is one double exp/multiply and the per-user sum
    rounds at 4 decimals — inside the float-drift budget every other
    rounded-sum query in this catalog relies on. ONE scan, one
    exchange on user_id; the decay makes re-ingestion-free rolling
    features possible: tomorrow's score = today's * exp(-dt/tau) + new
    events (the IVM-friendly recurrence, which is WHY exponential
    decay beats sliding windows at 100 TB — no window state to evict)."""
    all_ev = _t(spark, sf_dir, "events")
    ev = all_ev.filter(F.col("user_id") < 60)
    # anchor = max over the WHOLE corpus (the oracle's t0), not the
    # filtered cohort — a cohort-relative anchor would silently shift
    # every score when the cohort predicate changes
    now = all_ev.agg(F.max("ts").alias("now"))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    age_s = (F.col("now").cast("long") - F.col("ts").cast("long"))
    term = cents * F.exp(-(age_s / 3600.0) / _DECAY_TAU_HOURS)
    return (
        ev.crossJoin(F.broadcast(now))
        .select("user_id", term.alias("t"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("t") / 100.0, 4).alias("decayed_value"),
        )
    )


# ---------------------------------------------------------------------------
# q177: equi-depth histogram (quantile-bucketed, the q110 complement)
# ---------------------------------------------------------------------------


@_q(
    "q177_equidepth_histogram",
    """
    WITH b AS (
      SELECT quantile_cont(o_totalprice,
                           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bounds
      FROM orders
    ),
    assigned AS (
      SELECT CAST(len(list_filter(b.bounds, x -> o_totalprice > x)) AS BIGINT) AS bucket,
             o_totalprice
      FROM orders CROSS JOIN b
    )
    SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 4) AS lo,
           round(max(o_totalprice), 4) AS hi
    FROM assigned GROUP BY bucket
    """,
)
def q177_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram of order values — decile boundaries via
    exact interpolated percentiles (ONE agg row, broadcast back; the
    q43-proven cross-engine percentile identity makes the boundary
    doubles bit-identical, so the strict `x > bound` bucket assignment
    cannot flip between engines), then bucket = number of boundaries
    strictly below the value, folded map-side over the 9-element
    array. The complement of q110's equi-WIDTH histogram: equi-depth
    is the analyzer's histogram (each bucket ~10% of rows regardless
    of skew — column stats, join-selectivity estimation). Two scans of
    orders (one for boundaries, one to assign) and a 10-group agg; at
    100 TB the boundary pass swaps to approx_percentile, same plan
    shape. No unpartitioned window anywhere — the naive ntile
    formulation would be a single-task global sort."""
    orders = _t(spark, sf_dir, "orders")
    qs = [i / 10.0 for i in range(1, 10)]
    bounds = orders.agg(
        F.expr(
            "percentile(o_totalprice, array({}))".format(",".join(map(str, qs)))
        ).alias("bounds")
    )
    bucket = F.aggregate(
        "bounds",
        F.lit(0).cast("long"),
        lambda acc, b: acc + (F.col("o_totalprice") > b).cast("long"),
    )
    return (
        orders.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
        )
    )
