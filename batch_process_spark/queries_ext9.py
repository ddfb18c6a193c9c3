"""Query catalog part 10 (q137-q140): time-series resampling — the
hypertable surface (gap filling over a generated date spine,
multi-grain calendar rollups in one pass) — plus weighted PageRank,
completing the graph-algorithm set (components q79, k-means q103).

Determinism discipline matches the rest of the catalog: values
quantized to integer cents before any aggregation, calendar points
rendered as '2024-01-01' strings (DATE dtypes reach pandas differently
per engine), and LOCF implemented by the
gap-group rewrite (monotone MAX windows) rather than
last_value(... IGNORE NULLS) — the rewrite is tie-free by construction
and identical in any engine with partitioned windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from batch_process_spark.operators import joins
from batch_process_spark.operators.caching import memoized_persist
from batch_process_spark.queries import _events_stream, _q, _t

# ---------------------------------------------------------------------------
# q137: gap filling over a per-user date spine with LOCF carry-forward
# ---------------------------------------------------------------------------


def _daily_spine(spark: SparkSession, sf_dir: str):
    """(daily, spine) shared by the two resampling twins q137/q155:
    the persisted per-(user, day) cents rollup (ONE events scan, one
    (user, day) exchange — memoized so the twins share the
    materialization) and the dense per-user date spine exploded from
    its min/max (sequence-generated, never scanned). Any change to the
    user cut, the quantization, or the spine bounds reaches BOTH
    queries — they are documented as twins and must not drift."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    daily = memoized_persist(
        ev.filter(F.col("user_id") < 30)
        .groupBy("user_id", F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(cents).alias("cents"))
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("min_d"), F.max("day").alias("max_d"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(min_d, max_d, interval 1 day)")).alias("day"),
        )
    )
    return daily, spine


@_q(
    "q137_gap_fill_daily",
    """
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE user_id < 30 GROUP BY 1, 2
    ), spine AS (
      SELECT user_id, CAST(unnest(generate_series(min_d, max_d, INTERVAL 1 DAY)) AS DATE) AS day
      FROM (SELECT user_id, min(day) AS min_d, max(day) AS max_d FROM daily GROUP BY 1)
    ), joined AS (
      SELECT s.user_id, s.day, d.cents,
             CASE WHEN d.cents IS NOT NULL THEN 1 ELSE 0 END AS active
      FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
    ), grouped AS (
      SELECT *, max(CASE WHEN active = 1 THEN day END)
                  OVER (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_active_day
      FROM joined
    )
    SELECT user_id, CAST(day AS VARCHAR) AS day,
           CAST(active AS BIGINT) AS active,
           CAST(COALESCE(cents, 0) AS BIGINT) AS day_cents,
           CAST(max(CASE WHEN active = 1 THEN cents END)
                  OVER (PARTITION BY user_id, last_active_day) AS BIGINT) AS locf_cents,
           CAST(datediff('day', last_active_day, day) AS BIGINT) AS days_since_last
    FROM grouped
    """,
)
def q137_gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling / resampling — the hypertable staple: per-user daily
    totals re-sampled onto a dense date spine (sequence() exploded from
    each user's [min, max] day — generated, never scanned), missing
    days carried forward. LOCF uses the GAP-GROUP rewrite: a monotone
    MAX window assigns every day its most recent active day, and the
    carried value is a per-(user, gap-group) MAX over the single
    active row — no last_value(IGNORE NULLS) (tie semantics are
    engine-defined; the rewrite is tie-free by construction). Shuffle
    shape: events is scanned ONCE into the persisted daily rollup (one
    (user, day) exchange); the spine min/max and the fill join both
    read that materialized frame — nothing re-touches the raw events.
    The user_id < 30 cut keeps the compared result compact; the plan
    is cut-independent."""
    daily, spine = _daily_spine(spark, sf_dir)
    joined = spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        "cents",
        F.col("cents").isNotNull().cast("int").alias("active"),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grouped = joined.withColumn(
        "last_active_day", F.max(F.when(F.col("active") == 1, F.col("day"))).over(w_cum)
    )
    w_gap = Window.partitionBy("user_id", "last_active_day")
    return grouped.select(
        "user_id",
        F.col("day").cast("string").alias("day"),
        F.col("active").cast("long").alias("active"),
        F.coalesce("cents", F.lit(0)).cast("long").alias("day_cents"),
        F.max(F.when(F.col("active") == 1, F.col("cents")))
        .over(w_gap)
        .cast("long")
        .alias("locf_cents"),
        F.datediff("day", "last_active_day").cast("long").alias("days_since_last"),
    )


# ---------------------------------------------------------------------------
# q138: multi-grain calendar rollup (day/week/month) in ONE pass
# ---------------------------------------------------------------------------


@_q(
    "q138_calendar_rollup",
    """
    WITH g AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(date_trunc('week', ts) AS DATE) AS w,
             CAST(date_trunc('month', ts) AS DATE) AS m,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    )
    SELECT 'day' AS grain, CAST(d AS VARCHAR) AS bucket_start,
           CAST(count(*) AS BIGINT) AS n_events, CAST(sum(cents) AS BIGINT) AS total_cents
    FROM g GROUP BY d
    UNION ALL
    SELECT 'week', CAST(w AS VARCHAR), CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM g GROUP BY w
    UNION ALL
    SELECT 'month', CAST(m AS VARCHAR), CAST(count(*) AS BIGINT), CAST(sum(cents) AS BIGINT) FROM g GROUP BY m
    """,
)
def q138_calendar_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain calendar rollup — the continuous-aggregate /
    hypertable-rollup shape: purchase counts and totals at day, week,
    AND month grains from ONE scan via GROUPING SETS (the oracle
    restates it as three GROUP BYs; Spark's expand produces identical
    groups). Spark's grouping-sets expand multiplies rows by the number
    of grains BEFORE the exchange, but partial aggregation collapses
    them map-side to <= distinct-buckets fragments — the shuffle
    carries the rollup, not the events. Week/month truncation verified
    identical in both engines (Monday-start weeks); buckets rendered as
    '2024-01-01' strings (DATE dtypes reach pandas differently per
    engine)."""
    ev = _t(spark, sf_dir, "events")
    g = ev.filter(F.col("event_type") == "purchase").select(
        F.date_trunc("day", "ts").cast("date").alias("d"),
        F.date_trunc("week", "ts").cast("date").alias("w"),
        F.date_trunc("month", "ts").cast("date").alias("m"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    # grouping() (not isNotNull) picks the grain: a hypothetical NULL
    # ts would null all three buckets, and isNotNull would misfile its
    # day-grain row as 'month'.
    rolled = g.groupingSets([["d"], ["w"], ["m"]], "d", "w", "m").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.grouping("d").alias("__gd"),
        F.grouping("w").alias("__gw"),
    )
    grain = (
        F.when(F.col("__gd") == 0, F.lit("day"))
        .when(F.col("__gw") == 0, F.lit("week"))
        .otherwise(F.lit("month"))
    )
    bucket = F.coalesce("d", "w", "m")
    return rolled.select(
        grain.alias("grain"),
        bucket.cast("string").alias("bucket_start"),
        "n_events",
        "total_cents",
    )


# ---------------------------------------------------------------------------
# q139: weighted PageRank over the nation trade graph (pure integers)
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000  # ranks in micro-units
_PR_ITERS = 3


def _duck_pr_iter(prev: str) -> str:
    """One unrolled PageRank iteration: integer edge contributions
    (r_src * w) // out_src summed per dst, then damped in pure integer
    arithmetic — no doubles anywhere, so the iteration is order- and
    engine-independent. LEFT-joins from the full node list so a node
    with no inbound edge keeps its teleport-base rank instead of
    silently vanishing (and keeps contributing on later iterations)."""
    return f"""
      SELECT nodes.nation,
             (150000 // (SELECT count(*) FROM nation))
               + (COALESCE(s.c, 0) * 85) // 100 AS rank_micro
      FROM nodes LEFT JOIN (
        SELECT e.dst AS nation,
               sum((CAST(r.rank_micro AS HUGEINT) * e.w) // e.out_w) AS c
        FROM e JOIN {prev} r ON r.nation = e.src
        GROUP BY e.dst
      ) s ON s.nation = nodes.nation"""


@_q(
    "q139_pagerank_trade",
    f"""
    WITH raw AS (
      SELECT n1.n_name AS src, n2.n_name AS dst,
             sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS w
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
      GROUP BY 1, 2
    ), e AS (
      SELECT src, dst, w, sum(w) OVER (PARTITION BY src) AS out_w FROM raw
    ), nodes AS (SELECT n_name AS nation FROM nation
    ), r0 AS (
      SELECT nation, CAST({_PR_SCALE} // (SELECT count(*) FROM nation) AS BIGINT) AS rank_micro
      FROM nodes
    ), r1 AS ({_duck_pr_iter("r0")}
    ), r2 AS ({_duck_pr_iter("r1")}
    ), r3 AS ({_duck_pr_iter("r2")})
    SELECT nation, CAST(rank_micro AS BIGINT) AS rank_micro FROM r3
    """,
)
def q139_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (damping 0.85, 3 iterations) over the nation
    trade graph: supplier-nation -> customer-nation edges weighted by
    integer-cents revenue. The iterative-algorithm shape at scale: the
    EDGE table partitions by src and never moves; each iteration ships
    only the rank vector (nodes x 1 row, broadcast) back across it —
    the classic Pregel-as-join rewrite. Every operation is INTEGER
    (contributions (r*w) div out, damping (s*85) div 100 in micro-unit
    ranks), so the fixpoint trajectory is bit-identical in any engine —
    no float accumulation order to diverge on. Edge build: the q63-style
    star join with broadcast dims; 625 edges for 25 nations here, but
    the per-iteration shuffle is rank-vector-sized at any graph size."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst"))
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    raw = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(joins.gated_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .groupBy("src", "dst")
        .agg(F.sum(cents).alias("w"))
    )
    # persisted: the 3 unrolled iterations each reference the edge
    # frame — without it the 5-way star join re-executes per iteration
    edges = memoized_persist(
        raw.withColumn("out_w", F.sum("w").over(Window.partitionBy("src")))
    )

    # N derived from the node table IN-PLAN: the 1-row count rides a
    # broadcast crossJoin on the node list (the q160 discipline — an
    # eager .count() here would cost a job per plan BUILD and freeze a
    # literal across table invalidation). Initial mass and teleport
    # base scale with the actual graph.
    ncnt = nation.agg(F.count(F.lit(1)).alias("__n"))
    nodes = nation.select(F.col("n_name").alias("nation")).crossJoin(
        F.broadcast(ncnt)
    )
    ranks = nodes.select(
        "nation", F.expr(f"{_PR_SCALE} div __n").cast("long").alias("rank_micro")
    )
    base = F.expr(f"({_PR_SCALE} * 15 div 100) div __n")
    for _ in range(_PR_ITERS):
        contrib = edges.join(
            F.broadcast(ranks), edges.src == ranks.nation
        ).select(
            F.col("dst"),
            # product in decimal(38,0): rank_micro * integer-cents
            # weight passes int64 at warehouse SFs (the q163/q184
            # overflow discipline); `div` floors back to long, and the
            # quotient is bounded by rank_micro so the sum stays long
            F.expr("(cast(rank_micro as decimal(38,0)) * w) div out_w").alias("c"),
        )
        sums = contrib.groupBy(F.col("dst").alias("nation")).agg(
            F.sum("c").alias("s")
        )
        # LEFT from the node list: a node with no inbound edge keeps
        # its teleport-base rank instead of vanishing from the vector
        ranks = nodes.join(sums, "nation", "left").select(
            "nation",
            (base + F.expr("(coalesce(s, 0) * 85) div 100"))
            .cast("long")
            .alias("rank_micro"),
        )
    return ranks


# ---------------------------------------------------------------------------
# q140: entity resolution end-to-end (fuzzy pairs -> components -> canonical)
# ---------------------------------------------------------------------------


@_q(
    "q140_entity_resolution",
    """
    WITH RECURSIVE n AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM part GROUP BY 1
    ), prs AS (
      SELECT a.p_name AS na, b.p_name AS nb
      FROM n a JOIN n b ON a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 2
    ), edges AS (
      SELECT na AS src, nb AS dst FROM prs UNION SELECT nb, na FROM prs
    ), reach(src, node) AS (
      SELECT src, src FROM (SELECT DISTINCT src FROM edges)
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node
    ), cc AS (
      SELECT src AS nm, min(node) AS canonical FROM reach GROUP BY 1
    ), asgn AS (
      SELECT n.p_name, n.n_parts, n.cents,
             COALESCE(cc.canonical, n.p_name) AS canonical
      FROM n LEFT JOIN cc ON cc.nm = n.p_name
    )
    SELECT canonical AS canonical_name,
           CAST(count(*) AS BIGINT) AS n_names,
           CAST(sum(n_parts) AS BIGINT) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS retail_cents
    FROM asgn GROUP BY 1
    """,
)
def q140_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end — the composition the fuzzy-match
    machinery exists for: blocked edit-distance pairs (q130's lossless
    length banding) -> connected components (q79's machinery — a-b and
    b-c merge even though (a,c) was never a candidate) -> min-name
    canonical election -> facts re-keyed to the resolved entity.
    Singleton names (no fuzzy neighbor) stay their own canonical via
    the LEFT join. Every stage is dictionary-sized after the first
    rollup; the part table itself is touched once. Oracle: recursive-
    CTE transitive closure over the INDEPENDENT brute-force pair
    formulation."""
    from batch_process_spark.operators.graph import connected_components
    from batch_process_spark.queries_ext8 import blocked_fuzzy_pairs

    parts = _t(spark, sf_dir, "part")
    cents = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")
    # persisted: the dictionary feeds the pair probe, the pair build,
    # and the final re-key join — one part scan, three readers
    names = memoized_persist(
        parts.groupBy("p_name").agg(
            F.count(F.lit(1)).alias("n_parts"), F.sum(cents).alias("cents")
        )
    )
    pairs = blocked_fuzzy_pairs(names.select("p_name"))
    cc = connected_components(pairs, "name_a", "name_b")
    asgn = names.join(cc, names.p_name == cc.node, "left").select(
        F.coalesce("component", "p_name").alias("canonical_name"),
        "n_parts",
        "cents",
    )
    return asgn.groupBy("canonical_name").agg(
        F.count(F.lit(1)).alias("n_names"),
        F.sum("n_parts").cast("long").alias("n_parts"),
        F.sum("cents").cast("long").alias("retail_cents"),
    )


# ---------------------------------------------------------------------------
# q141: real image-container metadata without a decoder library
# ---------------------------------------------------------------------------


@_q(
    "q141_image_header_meta",
    """
    SELECT doc_id AS media_id,
           'png' AS format,
           CAST(16 + doc_id % 64 AS INT)       AS width,
           CAST(16 + (doc_id * 7) % 64 AS INT) AS height
    FROM documents WHERE doc_id < 200
    """,
)
def q141_image_header_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip proof of the stdlib image header parser
    (multimodal.parse_image_meta): synthesize structurally VALID PNG
    containers (signature + IHDR + IDAT + IEND, correct CRCs) with
    per-row dimensions, then recover format/width/height by parsing
    the real header bytes — no Pillow anywhere. Both stages are
    map-only Arrow kernels (no shuffle); the oracle states the
    expected dimensions independently, so a parser that read the
    wrong offsets or endianness hash-mismatches. Malformed-container
    behavior (JPEG/GIF/BMP, truncations -> errors-as-data) is locked
    by the fixture pytest."""
    from batch_process_spark.operators.multimodal import parse_image_meta, synth_png

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            (16 + F.col("doc_id") % 64).alias("w"),
            (16 + (F.col("doc_id") * 7) % 64).alias("h"),
        )
    )
    media = synth_png(docs, "doc_id", "w", "h")
    return parse_image_meta(media).select("media_id", "format", "width", "height")


# ---------------------------------------------------------------------------
# q142: data-quality constraint suite (intake gate)
# ---------------------------------------------------------------------------


@_q(
    "q142_quality_checks",
    """
    SELECT 'not_null:o_custkey' AS check_name,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'unique:o_orderkey',
           CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT),
           count(o_orderkey) = count(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'range:o_totalprice',
           CAST(sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 600000 THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN o_totalprice < 0 OR o_totalprice > 600000 THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'accepted:o_orderstatus',
           CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') AND o_orderstatus IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') AND o_orderstatus IS NOT NULL
               THEN 1 ELSE 0 END) = 0
    FROM orders
    UNION ALL
    SELECT 'fk:o_custkey->c_custkey',
           CAST(count(*) FILTER (WHERE c.c_custkey IS NULL AND o.o_custkey IS NOT NULL) AS BIGINT),
           count(*) FILTER (WHERE c.c_custkey IS NULL AND o.o_custkey IS NOT NULL) = 0
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q142_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intake data-quality gate (Deequ/dbt-test shape): completeness,
    key uniqueness, range, accepted values, and referential integrity
    over orders — the four column checks share ONE aggregation scan
    (stack-unpivoted to a row per check, nothing collects) and the FK
    check is an anti-join count against customer's distinct keys on a
    size-gated broadcast. At 100 TB this replaces N per-rule scans
    with one pass plus one join; unique swaps to the HLL register
    machinery when exactness stops paying."""
    from batch_process_spark.operators.quality import check_constraints

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return check_constraints(
        orders,
        [
            {"type": "not_null", "column": "o_custkey"},
            {"type": "unique", "column": "o_orderkey"},
            {"type": "range", "column": "o_totalprice", "min": 0, "max": 600000},
            {"type": "accepted_values", "column": "o_orderstatus", "values": ["O", "F", "P"]},
            {"type": "foreign_key", "column": "o_custkey", "ref_df": customer, "ref_column": "c_custkey"},
        ],
    )


# ---------------------------------------------------------------------------
# q143: distribution drift monitor (PSI between two time windows)
# ---------------------------------------------------------------------------


@_q(
    "q143_drift_psi",
    """
    WITH b AS (
      SELECT least(CAST(floor(value / 50) AS BIGINT), 9) AS bucket,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS is_ref
      FROM events WHERE value IS NOT NULL
    ),
    per AS (
      SELECT bucket,
             CAST(sum(is_ref) AS BIGINT)     AS n_ref,
             CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
      FROM b GROUP BY bucket
    ),
    tot AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM per)
    SELECT bucket, n_ref, n_cur,
           round(((n_cur + 1.0) / (t_cur + 10.0) - (n_ref + 1.0) / (t_ref + 10.0))
                 * ln(((n_cur + 1.0) / (t_cur + 10.0)) / ((n_ref + 1.0) / (t_ref + 10.0))),
                 6) AS psi_contrib
    FROM per, tot
    """,
)
def q143_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift monitor (the ML-ops intake twin of q142):
    Population Stability Index of the value distribution between a
    reference window and the current window, per fixed-width bucket
    with Laplace smoothing (+1 per bucket over nominal 10) so empty
    cells never hit ln(0). ONE scan builds both windows' histograms
    (conditional partial aggs per bucket); the 1-row totals ride a
    broadcast back over the <=10-row bucket table — at 100 TB the
    corpus-sized stage is the single bucket rollup, everything after
    is dictionary arithmetic. Sum(psi_contrib) > 0.2 is the classic
    retrain/alert threshold; contributions are emitted per bucket so
    the alert names WHICH part of the distribution moved."""
    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    per = (
        ev.select(
            F.least(F.floor(F.col("value") / 50), F.lit(9)).cast("long").alias("bucket"),
            (F.col("ts") < cut).cast("int").alias("is_ref"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("is_ref").cast("long").alias("n_ref"),
            F.sum(1 - F.col("is_ref")).cast("long").alias("n_cur"),
        )
    )
    tot = per.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    p_cur = (F.col("n_cur") + 1.0) / (F.col("t_cur") + 10.0)
    p_ref = (F.col("n_ref") + 1.0) / (F.col("t_ref") + 10.0)
    return per.crossJoin(F.broadcast(tot)).select(
        "bucket", "n_ref", "n_cur",
        F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias("psi_contrib"),
    )


# ---------------------------------------------------------------------------
# q144: streaming data-quality monitor (violation counters over micro-batches)
# ---------------------------------------------------------------------------


@_q(
    "q144_streaming_quality",
    """
    SELECT 'not_null:user_id' AS check_name,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations,
           sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) = 0 AS passed
    FROM events
    UNION ALL
    SELECT 'range:value',
           CAST(sum(CASE WHEN value < 0 OR value > 450 THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN value < 0 OR value > 450 THEN 1 ELSE 0 END) = 0
    FROM events
    UNION ALL
    SELECT 'accepted:event_type',
           CAST(sum(CASE WHEN event_type NOT IN ('click','view','purchase','signup')
                         AND event_type IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
           sum(CASE WHEN event_type NOT IN ('click','view','purchase','signup')
               AND event_type IS NOT NULL THEN 1 ELSE 0 END) = 0
    FROM events
    """,
)
def q144_streaming_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q142 intake gate run CONTINUOUSLY: violation counters
    maintained as a complete-mode streaming aggregation over three real
    micro-batches of the events feed — per-batch flag sums merge into
    the running totals (SUM is batching- and order-insensitive, so the
    final counters must equal the batch gate over the same rows, which
    is exactly what the shared oracle pins). State is ONE row of
    counters however long the stream runs; the stack unpivot to
    (check_name, violations, passed) runs as a tiny batch job on the
    final result table. This is how a 100 TB ingest watches quality
    without re-scanning history: the counters ARE the monitor."""
    from batch_process_spark.streaming.windows import drive_stream_to_memory

    # The check EXPRESSIONS and NAMES come from the same helper the
    # q142 batch gate uses (operators/quality.py::_column_check_expr) —
    # the streaming twin cannot drift from the batch semantics it
    # claims to mirror. (unique/foreign_key need the full check_
    # constraints machinery and are not streamable as running sums.)
    from batch_process_spark.operators.quality import _column_check_expr

    checks = [
        {"type": "not_null", "column": "user_id"},
        {"type": "range", "column": "value", "min": 0, "max": 450},
        {
            "type": "accepted_values",
            "column": "event_type",
            "values": ["click", "view", "purchase", "signup"],
        },
    ]
    named = [_column_check_expr(c) for c in checks]

    stream, feeds = _events_stream(spark, sf_dir, "q144", n_slices=3)
    out = stream.agg(
        *[expr.cast("long").alias(f"__c{i}") for i, (_, expr) in enumerate(named)]
    )
    counters = drive_stream_to_memory(spark, out, "q144_out", "complete", feeds=feeds)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("check_name"),
                F.col(f"__c{i}").alias("violations"),
            )
            for i, (name, _) in enumerate(named)
        ]
    )
    return (
        counters.select(F.explode(rows).alias("r"))
        .select("r.check_name", "r.violations")
        .withColumn("passed", F.col("violations") == 0)
    )


# ---------------------------------------------------------------------------
# q145: incremental view maintenance — delta refresh equals full recompute
# ---------------------------------------------------------------------------


@_q(
    "q145_incremental_rollup",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT)                              AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
           round(min(value), 4)                                  AS min_value,
           round(max(value), 4)                                  AS max_value
    FROM events GROUP BY event_type
    """,
)
def q145_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance under the oracle: the per-type
    rollup materialized from HISTORY (ts < Jan 16) then refreshed with
    the remaining rows as two successive DELTAS (Jan 16-23, Jan 23+) —
    `refresh_rollup` aggregates each delta alone and key-merges it with
    the standing partials, so RAW history is scanned once ever and each
    refresh costs one delta pass plus a merge over the (compressed)
    rollup — never a re-aggregation of raw history. Because every partial is
    mergeable (count/sum -> sum, min/max -> min/max; cents exact in
    integer space), the twice-refreshed rollup must equal the one-shot
    GROUP BY over all rows — which is exactly the oracle's
    formulation. Avg-style reads derive from (cents, n_events) at
    query time rather than storing a non-mergeable mean."""
    from batch_process_spark.operators.ivm import refresh_rollup, rollup_aggregate

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        F.col("value"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents_v"),
    )
    cut1 = F.lit("2024-01-16 00:00:00").cast("timestamp")
    cut2 = F.lit("2024-01-23 00:00:00").cast("timestamp")
    measures = {
        "n_events": ("count", ""),
        "cents": ("sum", "cents_v"),
        "min_value": ("min", "value"),
        "max_value": ("max", "value"),
    }
    rollup = rollup_aggregate(ev.filter(F.col("ts") < cut1), ["event_type"], measures)
    rollup = refresh_rollup(
        rollup,
        ev.filter((F.col("ts") >= cut1) & (F.col("ts") < cut2)),
        ["event_type"],
        measures,
    )
    rollup = refresh_rollup(
        rollup, ev.filter(F.col("ts") >= cut2), ["event_type"], measures
    )
    return rollup.select(
        "event_type",
        "n_events",
        F.col("cents").cast("long").alias("cents"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# q146: fixed-size per-group sampling (bottom-k by hash)
# ---------------------------------------------------------------------------


@_q(
    "q146_bottomk_sample",
    """
    SELECT event_type, event_id
    FROM (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR) || ':0'), event_id
             ) AS rn
      FROM events
    ) WHERE rn <= 3
    """,
)
def q146_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-source sampling (the training-data "n examples
    per source" contract): keep the 3 events per type whose hash of the
    id is smallest — deterministic bottom-k/consistent sampling, the
    distributed reservoir replacement (no rand(): retry-stable,
    mergeable across shards, membership stable under corpus growth —
    see sketches.bottom_k_sample). The catalog instantiation orders by
    the engine-portable md5 of the stringified id so the oracle
    reproduces the exact sample; production uses the default JVM
    xxhash64 ordering."""
    from batch_process_spark.operators.sketches import bottom_k_sample

    ev = _t(spark, sf_dir, "events").select("event_type", "event_id")
    portable = F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":0")))
    return bottom_k_sample(
        ev, "event_type", 3, "event_id", hash_col=portable
    ).select("event_type", "event_id")


# ---------------------------------------------------------------------------
# q147/q148: the last two TPC-H shapes (Q12, Q20) — full 22-shape sweep
# ---------------------------------------------------------------------------


@_q(
    "q147_late_returns_by_priority",
    """
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag = 'R'
      AND l_shipdate >= o_orderdate
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q147_late_returns_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: the generated schema ships no
    shipmode/commitdate, so returned-flag lines shipped on/after their
    order date stand in for late shipmode lines): selective fact
    filter, orders join carrying a NON-EQUI residual (l_shipdate >=
    o_orderdate rides the equi-join, never a nested loop), and the
    classic two-way conditional counts by priority class. The orders
    build side is fact-derived, so it goes through the stats gate like
    q29/q30."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_returnflag") == "R")
        & (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    o2 = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            joins.gated_broadcast(o2),
            (li.l_orderkey == o2.o_orderkey) & (li.l_shipdate >= o2.o_orderdate),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
    )


@_q(
    "q148_dominant_part_suppliers",
    """
    WITH rel AS (
      SELECT l_partkey, l_suppkey,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    tot AS (SELECT l_partkey, sum(qty) AS total FROM rel GROUP BY l_partkey),
    reds AS (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT r.l_suppkey
      FROM rel r JOIN tot t ON r.l_partkey = t.l_partkey
      WHERE r.l_partkey IN (SELECT p_partkey FROM reds)
        AND 5 * r.qty > t.total
    )
    ORDER BY s_suppkey
    """,
)
def q148_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: no partsupp/availqty in the schema, so
    'holds excess stock' becomes 'shipped an outsized share of a red
    part's total volume' — the same nested structure: name-filtered
    part semi-join, correlated per-part aggregate threshold — here a
    >20% volume share, sized to the generator's supplier fan-out so the
    result is non-vacuous — supplier semi-join at the top). All in
    exact integer quantities. The rollup
    is scanned once into both the per-pair and per-part totals; the
    threshold join runs at rollup granularity, never over raw
    lineitem; the final supplier probe is a semi join against the
    (dictionary-sized) qualifying supplier keys."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    reds = part.filter(F.col("p_name").like("%red%")).select(
        F.col("p_partkey").alias("l_partkey")
    )
    rel = (
        li.select("l_partkey", "l_suppkey", F.col("l_quantity").cast("long").alias("q"))
        .join(joins.gated_broadcast(reds), "l_partkey", "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("q").alias("qty"))
    )
    tot = rel.groupBy("l_partkey").agg(F.sum("qty").alias("total"))
    dominant = (
        rel.join(tot, "l_partkey")
        .filter(5 * F.col("qty") > F.col("total"))
        .select(F.col("l_suppkey").alias("s_suppkey"))
        .distinct()
    )
    return (
        supp.join(joins.gated_broadcast(dominant), "s_suppkey", "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# q149: distributed triangle counting (co-purchase graph)
# ---------------------------------------------------------------------------


@_q(
    "q149_triangle_count",
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
    )
    SELECT part AS l_partkey, CAST(count(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([u, v, w]) AS part FROM tri)
    GROUP BY part
    ORDER BY n_triangles DESC, part ASC
    LIMIT 20
    """,
)
def q149_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the part co-purchase graph
    (parts appearing in the same order are adjacent; orderkey-capped
    prefix keeps the catalog instance bounded) — the classic
    edge-iterator algorithm as joins: canonical u<v edges, wedge join
    on the middle vertex (u<v<w for free from canonical order — each
    triangle enumerated exactly once), closure semi-join back against
    the edge set, then per-node participation via explode. Every stage
    is an equi-join at EDGE granularity: no node ever sees more than
    its neighborhood, no adjacency matrix, no driver state — the shape
    that scales to billions of edges. Wedge skew on hub nodes is the
    known hot spot; middle-vertex salting is available through the
    ``salt_buckets`` parameter of operators/graph.py::wedge_join (which
    composes operators/skew.py::salted_join) and pytest-proved to
    bound hub tasks while preserving the exact wedge set."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    from batch_process_spark.operators.graph import copurchase_edges, triangles_per_node
    # persisted via the bounded memo pool (released by invalidate_tables):
    # the edge set feeds the wedge join twice and the closure probe
    edges = memoized_persist(copurchase_edges(li, "l_orderkey", "l_partkey"))
    tcnt = triangles_per_node(edges, count_col="n_triangles")
    return (
        tcnt.select(F.col("node").alias("l_partkey"), "n_triangles")
        .orderBy(F.desc("n_triangles"), F.asc("l_partkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q150: native session windows run as a real stream (complete mode)
# ---------------------------------------------------------------------------


@_q(
    "q150_streaming_sessions",
    """
    WITH d AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800 * 1000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM d
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, session_idx
    """,
)
def q150_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (`F.session_window`, streaming/windows.py
    `session_window_agg`) driven as a REAL stream: three micro-batches
    of the events feed, session state merged across batches in the
    state store, held to the full value-hash oracle. The batch twin is
    q38 (lag + running-sum islands); here the engine's own session
    operator does the merging, so sessions that SPAN a micro-batch
    boundary are stitched by state, not by a shuffle-wide window — the
    100 TB shape for sessionization over an unbounded feed. Complete
    mode keeps every closed-and-open session in the result table so
    the final table must equal the batch islands (the oracle); the
    production profile is append mode + watermark, whose late-drop
    semantics are pinned by q99 and the session parity pytest.
    Spark's session bound is [min(ts), last event + gap], so the
    oracle emits max(ts) + INTERVAL 30 MINUTE as session_end — same
    contract, engine-portable."""
    from batch_process_spark.streaming.windows import (
        drive_stream_to_memory,
        session_window_agg,
    )

    stream, feeds = _events_stream(spark, sf_dir, "q150", n_slices=3)
    return drive_stream_to_memory(
        spark,
        session_window_agg(stream, gap="30 minutes"),
        "q150_out",
        "complete",
        feeds=feeds,
    ).select("user_id", "session_start", "session_end", "n_events", "sum_value")


# ---------------------------------------------------------------------------
# q151: BFS shortest hops from a seed node (frontier iteration as joins)
# ---------------------------------------------------------------------------


@_q(
    "q151_bfs_hops",
    """
    WITH RECURSIVE li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey <= 2000
    ),
    edges AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                         AND a.l_partkey <> b.l_partkey
    ),
    walk(node, d) AS (
      SELECT (SELECT min(u) FROM edges), 0
      UNION
      SELECT e.v, w.d + 1
      FROM walk w JOIN edges e ON e.u = w.node
      WHERE w.d < 4
    )
    SELECT node AS l_partkey, CAST(min(d) AS BIGINT) AS hops
    FROM walk GROUP BY node
    """,
)
def q151_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted single-source shortest paths (BFS, 4 hops) over the
    part co-purchase graph, from the smallest node in the edge set —
    the frontier-iteration graph shape q79's components and q139's
    PageRank don't cover. Each round is two equi-joins over the
    PERSISTED symmetric edge set: frontier ⋈ edges to expand, then
    anti-join against the visited set so a node keeps its FIRST
    (minimal) hop count; each round's new frontier is persisted so
    round k never recomputes rounds 1..k-1. At scale the edge table
    hash-partitions on the source column once and never moves; only
    the frontier (nodes discovered last round) and the visited keys
    ship per round — the Pregel BFS rewrite, 4 unrolled supersteps.
    The oracle is the same walk as a recursive CTE (UNION-dedup)
    reduced by min(d)."""
    from batch_process_spark.operators.graph import copurchase_edges
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 2000)
    # the canonical (u < v) basket edge set, shared with q149/q166/q169
    # so the cap/canonicalization cannot drift — BFS walks an
    # undirected graph, so symmetrize it (each pair in both directions)
    canon = copurchase_edges(li, "l_orderkey", "l_partkey")
    edges = memoized_persist(
        canon.unionByName(
            canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    )
    seed = edges.agg(F.min("u").alias("node"))
    visited = memoized_persist(seed.withColumn("hops", F.lit(0).cast("long")))
    rounds = [visited]
    frontier = visited
    for d in range(1, 5):
        nbrs = (
            frontier.select(F.col("node").alias("u"))
            .join(edges, "u")
            .select(F.col("v").alias("node"))
            .distinct()
        )
        new = memoized_persist(
            nbrs.join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(d).cast("long"))
        )
        rounds.append(new)
        frontier = new
        visited = visited.unionByName(new)
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out.select(F.col("node").alias("l_partkey"), "hops")


# ---------------------------------------------------------------------------
# q152: BM25 ranked retrieval, corpus stage map-only
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "table", "hash")
_BM25_K1 = 1.2
_BM25_B = 0.75


@_q(
    "q152_bm25_search",
    f"""
    WITH base AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x != '')) AS dl
      FROM documents
    ),
    stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base
    ),
    t2 AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
      FROM t2 WHERE token IN ('spark', 'table', 'hash')
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT tf.doc_id,
             ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
               * (tf.tf * ({_BM25_K1} + 1))
               / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * base.dl / stats.avgdl))
               AS c
      FROM tf
      JOIN base ON tf.doc_id = base.doc_id
      CROSS JOIN stats
      JOIN df ON tf.token = df.token
    )
    SELECT doc_id, round(sum(c), 6) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q152_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed 3-term query
    — the relevance layer over the q125 inverted index, scored WITHOUT
    ever shuffling tokens: per-document term frequencies and document
    length are pure array expressions over the split text (map-only,
    whole-stage codegen), the 3-row document-frequency table and the
    1-row (N, avgdl) stats both broadcast back, and the only wide
    stages are a tiny per-doc sum and the TakeOrderedAndProject top-20
    — at 100 TB the corpus is touched exactly once, map-side. The
    oracle computes the identical formula from an exploded token
    stream (different plan, same values); scores quantized to 6
    decimals in both engines before ranking, ties broken by doc_id."""
    from batch_process_spark.operators.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, _BM25_TERMS, k1=_BM25_K1, b=_BM25_B, limit=20)


# ---------------------------------------------------------------------------
# q153: stream-stream LEFT OUTER join — outer emission on state eviction
# ---------------------------------------------------------------------------


@_q(
    "q153_stream_outer_join",
    """
    WITH imps(ad_id, imp_ts) AS (VALUES
      (1, TIMESTAMP '2024-01-01 10:00:00'),
      (2, TIMESTAMP '2024-01-01 10:05:00'),
      (3, TIMESTAMP '2024-01-01 11:00:00')),
    clicks(ad_id, click_ts, click_value) AS (VALUES
      (1, TIMESTAMP '2024-01-01 10:04:00', 1.0),
      (3, TIMESTAMP '2024-01-01 11:05:00', 4.0))
    SELECT i.ad_id, i.imp_ts, c.click_ts, c.click_value
    FROM imps i LEFT JOIN clicks c
      ON i.ad_id = c.ad_id
     AND c.click_ts >= i.imp_ts
     AND c.click_ts <= i.imp_ts + INTERVAL '10 minutes'
    """,
)
def q153_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q100 attribution join as LEFT OUTER: impressions that never
    get a click must still emit — with NULL click columns — and in a
    stream that can only happen at STATE EVICTION, when the global
    watermark proves no matching click can ever arrive (imp_ts +
    attribution horizon behind the watermark). Three real micro-batches:
    ad 1 and ad 3 match inside their windows (inner rows emit on
    match), ad 2's impression is never clicked and emits as the outer
    row only after a later batch advances the watermark past its
    horizon. A sentinel pair (ad 99) exists purely to push the final
    watermark and is filtered from the result and omitted from the
    oracle. This is the semantics batch LEFT JOIN gets for free and a
    stream must buy with bounded per-key state — same
    ``stream_interval_join`` builder, ``how='left_outer'``.
    ``sf_dir`` unused: engine semantics, not data."""
    import tempfile
    from datetime import datetime

    from batch_process_spark.streaming.feed import append_feed
    from batch_process_spark.streaming.joins import (
        run_two_streams_to_memory,
        stream_interval_join,
    )

    si = "ad_id int, imp_ts timestamp"
    sc = "ad_id int, click_ts timestamp, click_value double"

    def t(h, m):
        return datetime(2024, 1, 1, h, m)

    # the feed dirs go once the stream stops, as q99/q100's do: the
    # result is the memory-sink table, which does not read them
    with tempfile.TemporaryDirectory(prefix="q153_imp_") as di, \
            tempfile.TemporaryDirectory(prefix="q153_clk_") as dc:
        append_feed(di, si, [(1, t(10, 0)), (2, t(10, 5))])
        append_feed(dc, sc, [(1, t(10, 4), 1.0)])
        feeds = [
            # watermark -> min(11:00, 11:05) - 10 min = 10:50, past ad 2's
            # horizon 10:15: its outer row becomes emittable
            lambda: (append_feed(di, si, [(3, t(11, 0))]),
                     append_feed(dc, sc, [(3, t(11, 5), 4.0)])),
            # sentinel pair pushes the final watermark to 11:50 so every
            # real impression's state is resolved before the query stops
            lambda: (append_feed(di, si, [(99, t(12, 0))]),
                     append_feed(dc, sc, [(99, t(12, 0), 9.0)])),
        ]
        out = run_two_streams_to_memory(
            spark, di, si, dc, sc,
            lambda l, r: stream_interval_join(
                l, r, on="ad_id", left_ts="imp_ts", right_ts="click_ts",
                max_delay="10 minutes", watermark="10 minutes",
                how="left_outer",
            ).select("l.ad_id", "imp_ts", "click_ts", "click_value"),
            query_name="q153_out",
            feeds=feeds,
            scoped_conf={
                "spark.sql.streaming.noDataMicroBatches.enabled": "true",
            },
        )
    return out.filter(F.col("ad_id") != 99)


# ---------------------------------------------------------------------------
# q154: SCD2 dimension build + point-in-time (as-of) reconstruction
# ---------------------------------------------------------------------------


@_q(
    "q154_scd2_asof",
    """
    WITH ev AS (
      SELECT user_id, ts, min(event_type) AS event_type
      FROM events WHERE user_id < 20 GROUP BY user_id, ts
    ),
    hist AS (
      SELECT user_id, event_type,
             ts AS valid_from,
             coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
                      TIMESTAMP '9999-12-31 23:59:59') AS valid_to
      FROM ev
    )
    SELECT user_id, event_type AS state_at,
           valid_from, valid_to,
           (valid_to = TIMESTAMP '9999-12-31 23:59:59') AS is_current
    FROM hist
    WHERE valid_from <= TIMESTAMP '2024-01-20 00:00:00'
      AND TIMESTAMP '2024-01-20 00:00:00' < valid_to
    """,
)
def q154_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 under the full oracle (operators/merge.py `scd2_init` /
    `scd2_apply` were pytest-only until this query): each user's event
    stream becomes a slowly-changing attribute — the FIRST event is
    the snapshot, every later event a timestamped change — and the
    built dimension is probed AS OF Jan 20: exactly one validity
    interval per user active before the probe instant, [valid_from,
    valid_to) half-open. The oracle reconstructs the same history with
    one lead() window, so every interval boundary, the open-end
    sentinel, and the is_current flag are value-hash pinned — i.e. the
    MERGE machinery's chaining (multiple changes per key in one
    batch), current-row closing, and untouched-key passthrough are all
    checked against SQL, not just fixtures. Shuffle shape: one
    exchange on user_id serves the first/rest split, the apply's chain
    window, and the probe filter — the dimension is a fraction of the
    feed after the rollup, and the as-of probe is a map-side filter."""
    from batch_process_spark.operators.merge import scd2_apply, scd2_init

    # Tie-free by construction (the q137 discipline): duplicate
    # (user, ts) events collapse to min(event_type) in BOTH engines —
    # otherwise the lead()/chain windows break ts ties engine-arbitrarily
    # and the interval holding the probe instant could differ.
    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .groupBy("user_id", "ts")
        .agg(F.min("event_type").alias("event_type"))
    )
    first = ev.groupBy("user_id").agg(
        F.min("ts").alias("ts"), F.min_by("event_type", "ts").alias("event_type")
    )
    snapshot = first.select("user_id", "event_type", "ts")
    changes = ev.join(
        first.select("user_id", F.col("ts").alias("__t0")), "user_id"
    ).filter(F.col("ts") > F.col("__t0")).select("user_id", "event_type", "ts")
    dim = scd2_apply(scd2_init(snapshot, "ts"), changes, ["user_id"], "ts")
    probe = F.lit("2024-01-20 00:00:00").cast("timestamp")
    return dim.filter((F.col("valid_from") <= probe) & (probe < F.col("valid_to"))).select(
        "user_id",
        F.col("event_type").alias("state_at"),
        "valid_from",
        "valid_to",
        "is_current",
    )


# ---------------------------------------------------------------------------
# q155: linear-interpolation resampling (the interpolating twin of q137)
# ---------------------------------------------------------------------------


@_q(
    "q155_interpolate_daily",
    """
    WITH daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE user_id < 30 GROUP BY 1, 2
    ), spine AS (
      SELECT user_id, CAST(unnest(generate_series(min_d, max_d, INTERVAL 1 DAY)) AS DATE) AS day
      FROM (SELECT user_id, min(day) AS min_d, max(day) AS max_d FROM daily GROUP BY 1)
    ), joined AS (
      SELECT s.user_id, s.day, d.cents
      FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
    ), fenced AS (
      SELECT *,
             max(CASE WHEN cents IS NOT NULL THEN day END)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
             min(CASE WHEN cents IS NOT NULL THEN day END)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM joined
    ), valued AS (
      SELECT *,
             max(CASE WHEN cents IS NOT NULL THEN cents END)
               OVER (PARTITION BY user_id, pd) AS pc,
             max(CASE WHEN cents IS NOT NULL THEN cents END)
               OVER (PARTITION BY user_id, nd) AS nc
      FROM fenced
    )
    SELECT user_id, CAST(day AS VARCHAR) AS day,
           CAST(CASE WHEN cents IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS active,
           CAST(CASE
             WHEN cents IS NOT NULL THEN cents * 1000000
             ELSE (pc * datediff('day', pd, nd)
                   + (nc - pc) * datediff('day', pd, day)) * 1000000
                  // datediff('day', pd, nd)
           END AS BIGINT) AS interp_micro
    FROM valued
    """,
)
def q155_interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling — the interpolating twin of
    q137's LOCF: gap days on the dense per-user date spine take the
    straight line between their two fencing active days instead of
    carrying the last value. Same gap-group discipline (monotone
    MAX/MIN windows assign each day its previous/next active day; the
    fence VALUES ride per-(user, fence-day) MAX over the single active
    row — no IGNORE NULLS navigation, tie-free by construction), and
    the interpolated value is EXACT INTEGER MICRO-CENTS: (pc*(nd-pd) +
    (nc-pc)*(day-pd)) * 1e6 div (nd-pd) — integer div is bit-identical
    in any engine, no float rounding seam. Spine endpoints are active
    by construction so every gap day has both fences. Shuffle shape
    matches q137: one (user, day) exchange into the persisted daily
    rollup; every window is user-partitioned."""
    daily, spine = _daily_spine(spark, sf_dir)
    joined = spine.join(daily, ["user_id", "day"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_day = F.when(F.col("cents").isNotNull(), F.col("day"))
    fenced = joined.withColumn("pd", F.max(known_day).over(w_prev)).withColumn(
        "nd", F.min(known_day).over(w_next)
    )
    known_cents = F.when(F.col("cents").isNotNull(), F.col("cents"))
    valued = fenced.withColumn(
        "pc", F.max(known_cents).over(Window.partitionBy("user_id", "pd"))
    ).withColumn("nc", F.max(known_cents).over(Window.partitionBy("user_id", "nd")))
    interp = F.expr(
        "(pc * datediff(nd, pd) + (nc - pc) * datediff(day, pd)) * 1000000L "
        "div datediff(nd, pd)"
    )
    return valued.select(
        "user_id",
        F.col("day").cast("string").alias("day"),
        F.col("cents").isNotNull().cast("long").alias("active"),
        F.when(F.col("cents").isNotNull(), F.col("cents") * 1000000)
        .otherwise(interp)
        .cast("long")
        .alias("interp_micro"),
    )


# ---------------------------------------------------------------------------
# q156: snapshot diff — derive the change feed between two table versions
# ---------------------------------------------------------------------------


@_q(
    "q156_snapshot_diff",
    """
    WITH old_s AS (
      SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey % 10 <= 6
    ),
    new_s AS (
      SELECT o_orderkey, o_orderstatus,
             round(o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN 1.0 ELSE 0.0 END,
                   2) AS price
      FROM orders WHERE o_orderkey % 10 >= 3
    ),
    d AS (
      SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
             CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                  WHEN n.o_orderkey IS NULL THEN 'delete'
                  WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                       OR o.price IS DISTINCT FROM n.price THEN 'update'
                  ELSE 'unchanged' END AS change_type
      FROM old_s o FULL JOIN new_s n USING (o_orderkey)
    )
    SELECT change_type,
           CAST(count(*) AS BIGINT) AS n,
           md5(string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey))
             AS keys_md5
    FROM d GROUP BY change_type
    """,
)
def q156_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed derivation between two table versions
    (operators/merge.py `snapshot_diff` — the inverse of q61's MERGE):
    two modulo-keyed snapshots of orders (so every change class is
    non-vacuous at ANY scale factor), the newer with a +1.00 price
    touch on every 5th key, classified insert/delete/update/unchanged
    by ONE co-partitioned full-outer join (NULL-safe column compare,
    presence decided by join-side markers, never by nullable values).
    The per-type ordered-key md5 pins EXACT membership of every class,
    not just the counts — the anti-entropy reconciliation pass two
    100 TB table versions need before a MERGE can repair them."""
    from batch_process_spark.operators.merge import snapshot_diff

    orders = _t(spark, sf_dir, "orders")
    price = F.round(F.col("o_totalprice"), 2)
    old_s = orders.filter(F.col("o_orderkey") % 10 <= 6).select(
        "o_orderkey", "o_orderstatus", price.alias("price")
    )
    bump = F.when(F.col("o_orderkey") % 5 == 0, F.lit(1.0)).otherwise(F.lit(0.0))
    new_s = orders.filter(F.col("o_orderkey") % 10 >= 3).select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") + bump, 2).alias("price"),
    )
    d = snapshot_diff(old_s, new_s, ["o_orderkey"])
    keys_md5 = F.md5(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("o_orderkey")),
                lambda x: x.cast("string"),
            ),
            ",",
        )
    )
    return d.groupBy("change_type").agg(
        F.count(F.lit(1)).alias("n"), keys_md5.alias("keys_md5")
    )


# ---------------------------------------------------------------------------
# q157: cross-source leakage matrix (shared prefix fingerprints)
# ---------------------------------------------------------------------------


@_q(
    "q157_cross_source_leakage",
    """
    WITH h AS (
      SELECT doc_id, source,
             md5(array_to_string(list_slice(string_split(text, ' '), 1, 16), ' ')) AS fp
      FROM documents
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT a.fp) AS BIGINT) AS n_fingerprints
    FROM h a JOIN h b ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def q157_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix — the governance view a
    training-data pipeline needs before mixing corpora: for every
    source pair, how many document pairs share a 16-token prefix
    fingerprint (the q112 passage-blocking key), i.e. content leaking
    between nominally independent sources (q93 decontaminates against
    an EVAL suite; this audits the training sources against each
    other). One equi-join on the fingerprint — the dedup blocking
    shape, never all-pairs across the corpus; within-fingerprint pair
    enumeration IS the requested semantics and is bounded by duplicate
    cluster size (hot boilerplate fingerprints are the known skew spot
    — operators/skew.py salting applies unchanged)."""
    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 16), " "))
    h = docs.select("doc_id", "source", fp.alias("fp"))
    a = h.select(F.col("source").alias("src_a"), F.col("fp"))
    b = h.select(F.col("source").alias("src_b"), F.col("fp"))
    return (
        a.join(b, "fp")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("fp").alias("n_fingerprints"),
        )
    )


# ---------------------------------------------------------------------------
# q158: exact running uniques via the first-touch rewrite
# ---------------------------------------------------------------------------


@_q(
    "q158_cumulative_uniques",
    """
    WITH fs AS (
      SELECT user_id, CAST(min(date_trunc('day', ts)) AS DATE) AS first_day
      FROM events GROUP BY 1
    ),
    daily AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1
    ),
    nu AS (SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users FROM fs GROUP BY 1)
    SELECT CAST(d.day AS VARCHAR) AS day, d.dau,
           CAST(coalesce(nu.new_users, 0) AS BIGINT) AS new_users,
           CAST(sum(coalesce(nu.new_users, 0))
                  OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_uniques
    FROM daily d LEFT JOIN nu ON d.day = nu.day
    """,
)
def q158_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + EXACT cumulative unique users — the
    running-distinct time series, distributed via the FIRST-TOUCH
    rewrite: a naive running COUNT(DISTINCT) window would drag every
    user set through an ever-growing state; instead each user
    collapses to their first-seen day (one user-keyed aggregation —
    the only corpus-sized stage), and the cumulative curve is a
    running SUM of per-day first-touches over the ~days-sized rollup.
    The one unpartitioned window runs over THAT calendar table (tens
    of rows at any corpus size — same justification as q133's k-row
    sketch windows), never over events. dau stays a per-day distinct
    (hash partial-agg per day); the oracle states the identical
    rewrite, so cum_uniques is pinned exactly, not estimated —
    q127's HLL is the sketch twin when exactness can be traded."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    fs = ev.groupBy("user_id").agg(F.min(day).alias("day"))
    nu = fs.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    daily = ev.groupBy(day.alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        daily.join(nu, "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce("new_users", F.lit(0)).cast("long").alias("new_users"),
        )
        .withColumn("cum_uniques", F.sum("new_users").over(w).cast("long"))
        .withColumn("day", F.col("day").cast("string"))
    )


# ---------------------------------------------------------------------------
# q159: int8 vector quantization (storage-side embedding compression)
# ---------------------------------------------------------------------------


@_q(
    "q159_vector_quantize",
    """
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, label, e,
             list_aggregate(list_transform(e, x -> abs(x)), 'max') AS scale,
             list_aggregate(list_transform(e, x -> x * x), 'sum') AS sumsq
      FROM v
    ),
    q AS (
      SELECT vec_id, label, scale, sumsq,
             list_transform(
               e, x -> CASE WHEN scale = 0 THEN 0
                            ELSE CAST(floor(x * 127 / scale + 0.5) AS BIGINT) END
             ) AS codes
      FROM s
    )
    SELECT vec_id, label,
           CAST(floor(sqrt(sumsq) * 1000000 + 0.5) AS BIGINT) AS norm_micro,
           CAST(floor(scale * 1000000 + 0.5) AS BIGINT) AS scale_micro,
           CAST(len(list_filter(codes, c -> abs(c) = 127)) AS BIGINT) AS n_maxed,
           md5(array_to_string(list_transform(codes, c -> CAST(c AS VARCHAR)), ','))
             AS codes_md5
    FROM q
    """,
)
def q159_vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization — the storage/transport compression
    step an embedding pipeline runs before ANN indexing (4x smaller
    than float32; q25-q27 search, THIS compresses): symmetric max-abs
    scaling, code = floor(x*127/scale + 0.5) — the repo's standard
    half-up-via-floor idiom, bit-identical in any IEEE engine once
    elements are cast float32->double (exact). Entirely map-side array
    expressions inside codegen: no shuffle at all, the 100 TB plan is
    scan -> project -> write. The md5 over the comma-joined codes pins
    every code of every vector under the oracle (the list itself would
    crash the driver's collection-column sort); zero vectors quantize
    to all-zero codes by the same CASE in both engines; norm and scale
    are exact-integer micro units."""
    emb = _t(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    d = emb.select("vec_id", "label", e.alias("e"))
    scale = F.array_max(F.transform("e", lambda x: F.abs(x)))
    sumsq = F.aggregate(
        F.transform("e", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
    )
    s = d.select("vec_id", "label", "e", scale.alias("scale"), sumsq.alias("sumsq"))
    codes = F.transform(
        "e",
        lambda x: F.when(F.col("scale") == 0, F.lit(0).cast("long")).otherwise(
            F.floor(x * 127 / F.col("scale") + 0.5)
        ),
    )
    q = s.select("vec_id", "label", "scale", "sumsq", codes.alias("codes"))
    return q.select(
        "vec_id",
        "label",
        F.floor(F.sqrt("sumsq") * 1000000 + F.lit(0.5)).cast("long").alias("norm_micro"),
        F.floor(F.col("scale") * 1000000 + F.lit(0.5)).cast("long").alias("scale_micro"),
        F.size(F.filter("codes", lambda c: F.abs(c) == 127)).cast("long").alias("n_maxed"),
        F.md5(
            F.array_join(F.transform("codes", lambda c: c.cast("string")), ",")
        ).alias("codes_md5"),
    )


# ---------------------------------------------------------------------------
# q160: market-basket association rules (support / confidence / lift)
# ---------------------------------------------------------------------------


@_q(
    "q160_association_rules",
    """
    WITH b AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey <= 2000
    ),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM b),
    items AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1
    ),
    pairs AS (
      SELECT x.l_partkey AS u, y.l_partkey AS v, CAST(count(*) AS BIGINT) AS both_cnt
      FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      GROUP BY 1, 2
    ),
    rules AS (
      SELECT p.u AS antecedent, p.v AS consequent, p.both_cnt,
             iu.cnt AS ante_cnt,
             round(p.both_cnt * 1.0 / iu.cnt, 6) AS confidence,
             round(p.both_cnt * 1.0 * n.n_baskets / (iu.cnt * iv.cnt), 6) AS lift
      FROM pairs p
      JOIN items iu ON p.u = iu.l_partkey
      JOIN items iv ON p.v = iv.l_partkey
      CROSS JOIN n
      UNION ALL
      SELECT p.v, p.u, p.both_cnt, iv.cnt,
             round(p.both_cnt * 1.0 / iv.cnt, 6),
             round(p.both_cnt * 1.0 * n.n_baskets / (iu.cnt * iv.cnt), 6)
      FROM pairs p
      JOIN items iu ON p.u = iu.l_partkey
      JOIN items iv ON p.v = iv.l_partkey
      CROSS JOIN n
    )
    SELECT antecedent, consequent, both_cnt, ante_cnt, confidence, lift
    FROM rules WHERE both_cnt >= 2
    ORDER BY lift DESC, antecedent ASC, consequent ASC LIMIT 20
    """,
)
def q160_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets — the
    metrics layer on q149's co-purchase pairs: per directional rule
    u=>v, support pair count, confidence both/cnt(u), lift
    both*N/(cnt(u)*cnt(v)); min support 2 baskets, top-20 by lift
    with full deterministic tie-break. Scale shape: baskets reduce to
    the distinct (order, part) table once (persisted — the pair join,
    the item counts, and the basket count all read it); the pair join
    is the q149 wedge shape at basket granularity, never all-pairs
    across parts; item counts and the 1-row basket count broadcast
    back onto the pair rollup; top-20 is TakeOrderedAndProject.
    Metrics are single divisions of exact integers, rounded at 6 in
    both engines."""
    b = memoized_persist(
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    # 1-row basket count folds in via a broadcast crossJoin (the
    # q152/q165 stats pattern) — NOT an eager .count(), which would run
    # two real jobs at plan-BUILD time (every explain/audit pays them)
    # and freeze a stale literal across table invalidation
    n = b.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    items = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    right = b.select(F.col("l_orderkey"), F.col("l_partkey").alias("v"))
    pairs = (
        b.select("l_orderkey", F.col("l_partkey").alias("u"))
        .join(right, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("both_cnt"))
        .filter(F.col("both_cnt") >= 2)
    )
    iu = items.select(F.col("l_partkey").alias("u"), F.col("cnt").alias("cnt_u"))
    iv = items.select(F.col("l_partkey").alias("v"), F.col("cnt").alias("cnt_v"))
    base = (
        # per-item counts grow with the part catalog — stats-gated, not
        # hint-forced; gate on the persisted basket table (aggregate
        # output is bounded by its input). n stays a true 1-row frame.
        pairs.join(joins.gated_broadcast(iu, b), "u")
        .join(joins.gated_broadcast(iv, b), "v")
        .crossJoin(F.broadcast(n))
    )
    lift = F.round(
        F.col("both_cnt") * 1.0 * F.col("n_baskets") / (F.col("cnt_u") * F.col("cnt_v")), 6
    )
    fwd = base.select(
        F.col("u").alias("antecedent"),
        F.col("v").alias("consequent"),
        "both_cnt",
        F.col("cnt_u").alias("ante_cnt"),
        F.round(F.col("both_cnt") * 1.0 / F.col("cnt_u"), 6).alias("confidence"),
        lift.alias("lift"),
    )
    rev = base.select(
        F.col("v").alias("antecedent"),
        F.col("u").alias("consequent"),
        "both_cnt",
        F.col("cnt_v").alias("ante_cnt"),
        F.round(F.col("both_cnt") * 1.0 / F.col("cnt_v"), 6).alias("confidence"),
        lift.alias("lift"),
    )
    return (
        fwd.unionByName(rev)
        .orderBy(F.desc("lift"), F.asc("antecedent"), F.asc("consequent"))
        .limit(20)
    )
