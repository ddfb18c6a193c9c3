"""Query catalog part 4 (q62-q69): the remaining classic TPC-H shapes,
adapted to the driver's trimmed star schema (no partsupp/shipmode/
receiptdate columns — substitutions noted per query).

Each exercises a distinct optimizer/operator pattern the earlier
catalog doesn't cover head-on: correlated min subqueries (Q2),
multi-direction join pairs (Q7), profit expressions over 4 joins (Q9),
left-outer distribution (Q13), NOT IN exclusion + count distinct (Q16),
disjunctive join predicates (Q19), exists/not-exists multi-correlation
(Q21), and anti-join + scalar-average subquery (Q22).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_process_spark.operators import joins
from batch_process_spark.queries import _events_stream, _q, _t


@_q(
    "q62_min_cost_supplier",
    """
    WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    j AS (
      SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal
      FROM rel
      JOIN part ON p_partkey = l_partkey AND p_size <= 3
      JOIN supplier ON s_suppkey = l_suppkey
    )
    SELECT p_partkey, p_name, s_suppkey, s_name, round(s_acctbal, 2) AS bal
    FROM j
    WHERE s_acctbal = (SELECT min(s_acctbal) FROM j j2 WHERE j2.p_partkey = j.p_partkey)
    """,
)
def q62_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-cost supplier via correlated
    min subquery, decorrelated to a per-key aggregate join (the
    partsupp relation is emulated by distinct (l_partkey, l_suppkey) —
    the schema ships no partsupp table; min s_acctbal stands in for
    min ps_supplycost)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 3)
    supp = _t(spark, sf_dir, "supplier")
    rel = li.select("l_partkey", "l_suppkey").distinct()
    j = (
        rel.join(joins.gated_broadcast(part), rel.l_partkey == part.p_partkey)
        .join(joins.gated_broadcast(supp), rel.l_suppkey == supp.s_suppkey)
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal")
    )
    mn = j.groupBy(F.col("p_partkey").alias("__pk")).agg(F.min("s_acctbal").alias("__mn"))
    return (
        j.join(mn, (j.p_partkey == mn.__pk) & (j.s_acctbal == mn.__mn))
        .select("p_partkey", "p_name", "s_suppkey", "s_name", F.round("s_acctbal", 2).alias("bal"))
    )


@_q(
    "q63_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND year(l_shipdate) BETWEEN 1996 AND 1997
    GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS BIGINT)
    """,
)
def q63_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two-nation trade volume in both directions, by
    ship year. Fact side joins 4 broadcast dims; the disjunctive nation
    pair lands as a post-join filter on broadcast keys."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    return (
        li.filter(F.year("l_shipdate").between(1996, 1997))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(joins.gated_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("s_nk"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


@_q(
    "q64_product_profit",
    """
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)
                     - 0.05 * p_retailprice * l_quantity) * 100 + 0.5) AS BIGINT))
                AS BIGINT) / 100.0 AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey AND p_name LIKE '%gear%'
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON n_nationkey = s_nationkey
    GROUP BY n_name, CAST(year(o_orderdate) AS BIGINT)
    """,
)
def q64_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year over a
    4-dim star (ps_supplycost emulated as 5% of p_retailprice — no
    partsupp in schema).

    The profit total sums as exact integer cents (per-row half-up to
    cents, then a lossless BIGINT sum) — a plain double sum is order-
    dependent across engines and flips the last cent at the rounding
    boundary (observed at sf0.01)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.05 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    cents = F.floor(profit * 100 + 0.5).cast("long")
    return (
        li.join(joins.gated_broadcast(part), li.l_partkey == part.p_partkey)
        .join(joins.gated_broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg((F.sum(cents) / 100.0).alias("sum_profit"))
    )


@_q(
    "q65_customer_distribution",
    """
    WITH co AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM co GROUP BY c_count
    """,
)
def q65_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count distribution over a LEFT join (the
    zero-order customers survive with c_count = 0; the priority filter
    belongs to the join condition, not a WHERE — putting it in WHERE
    would silently drop them)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@_q(
    "q66_supplier_part_counts",
    """
    WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM rel
    JOIN part ON p_partkey = l_partkey
    WHERE p_size <= 10
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    """,
)
def q66_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, size) with
    a NOT IN supplier exclusion — expressed as a left-anti join (the
    scalable NOT IN when the subquery side is NULL-free)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    excluded = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    rel = li.select("l_partkey", "l_suppkey").distinct()
    return (
        # excluded is SF-scaling (a supplier subset) — stats-gated, not
        # hint-forced; shuffled-hash anti-join is the safe fallback.
        rel.join(joins.gated_broadcast(excluded), rel.l_suppkey == excluded.s_suppkey, "left_anti")
        .join(joins.gated_broadcast(part), rel.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@_q(
    "q67_disjunctive_revenue",
    """
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_rows
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q67_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under a 3-way disjunction of conjunctive
    brand/size/quantity predicates — one broadcast join, the disjunction
    evaluated as a single post-join filter (Catalyst extracts the common
    p_partkey equi-key; no union-of-three-scans rewrite needed)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(joins.gated_broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@_q(
    "q68_waiting_suppliers",
    """
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    SELECT s_name, count(*) AS numwait
    FROM late l1 JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    """,
)
def q68_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers solely responsible for late multi-
    supplier orders — EXISTS as left-semi, NOT EXISTS as left-anti over
    the same late-lineitems frame ("late" = shipped >60 days after the
    order date; the schema has no receipt/commit dates)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l1 = late.alias("l1")
    other = li.select("l_orderkey", "l_suppkey").alias("l2")
    other_late = late.alias("l3")
    has_other = l1.join(
        other,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    sole_late = has_other.alias("l1").join(
        other_late,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        sole_late.join(joins.gated_broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@_q(
    "q69_global_sales_opportunity",
    """
    WITH eligible AS (
      SELECT c_custkey, c_nationkey % 5 AS cntrycode, c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
    )
    SELECT cntrycode, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
    FROM eligible
    WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    GROUP BY cntrycode
    """,
)
def q69_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich customers with no URGENT orders, grouped
    by country code — scalar-average subquery (broadcast) + anti join
    (cntrycode emulated as c_nationkey % 5, no phone column; the
    no-orders predicate narrows to urgent orders because at this data's
    order density every customer has some order)."""
    cust = _t(spark, sf_dir, "customer")
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("__avg"))
    return (
        cust.join(F.broadcast(avg_bal), F.col("c_acctbal") > F.col("__avg"))
        .join(urgent, cust.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy((F.col("c_nationkey") % 5).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@_q(
    "q70_sliding_windows",
    """
    SELECT bucket_start,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM (
      SELECT unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS bucket_start,
             value
      FROM events
    )
    GROUP BY bucket_start
    """,
)
def q70_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (width 2h, slide 1h): every event lands in
    exactly two buckets. The oracle unnests the two epoch-aligned
    window starts per event — the same assignment rule Spark's
    ``F.window(ts, width, slide)`` uses. Batch twin of the streaming
    path (same ``sliding_window_agg`` runs over readStream +
    watermark)."""
    from batch_process_spark.streaming.windows import sliding_window_agg

    return sliding_window_agg(
        _t(spark, sf_dir, "events"), width="2 hours", slide="1 hour"
    )


@_q(
    "q71_streaming_dedup",
    """
    WITH dup_stream AS (
      SELECT event_id, user_id, event_type FROM events
      UNION ALL
      SELECT event_id, user_id, event_type FROM events WHERE event_id % 7 = 0
    )
    SELECT DISTINCT event_id, user_id, event_type FROM dup_stream
    """,
)
def q71_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact-once dedup: a duplicated event stream driven
    through ``readStream -> dropDuplicates -> memory sink`` (append
    mode — each event_id emitted exactly once, dedup state spans
    micro-batches). The oracle is the batch DISTINCT of the same
    duplicated stream; the streaming result must equal it exactly.
    At scale the watermark variant (``dropDuplicatesWithinWatermark``)
    bounds state; unbounded here because the corpus is finite."""
    from batch_process_spark.streaming.windows import drive_stream_to_memory

    stream, _ = _events_stream(spark, sf_dir)
    dup = stream.select("event_id", "user_id", "event_type").unionByName(
        stream.filter(F.col("event_id") % 7 == 0).select(
            "event_id", "user_id", "event_type"
        )
    )
    return drive_stream_to_memory(
        spark, dup.dropDuplicates(["event_id"]), "q71_out", "append"
    )


@_q(
    "q72_stream_static_join",
    """
    SELECT c_mktsegment,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events JOIN customer ON c_custkey = (user_id % 1500) + 1
    GROUP BY c_mktsegment
    """,
)
def q72_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins a static
    dimension (customer, broadcast per micro-batch) and aggregates per
    segment — the streaming form of J1 label enrichment. Complete-mode
    memory sink; the oracle is the identical batch join."""
    from batch_process_spark.streaming.windows import drive_stream_to_memory

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    n_cust = 1500
    stream, _ = _events_stream(spark, sf_dir)
    out = (
        stream.withColumn("c_custkey", (F.col("user_id") % n_cust) + 1)
        .join(joins.gated_broadcast(cust), "c_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    return drive_stream_to_memory(spark, out, "q72_out", "complete")


def _curation_oracle() -> str:
    from batch_process_spark.queries_ext import _DUP_CORPUS, DUCK_TOKENS, _DUCK_SW

    toks = DUCK_TOKENS.format(t="text")
    scores = ", ".join(
        f"len(list_filter(toks, t -> list_contains({_DUCK_SW[c]}, t)))::DOUBLE / greatest(len(toks), 1) AS s_{c}"
        for c in ["en", "de", "fr", "es"]
    )
    return f"""
    WITH corpus AS ({_DUP_CORPUS}),
    f AS (
      SELECT doc_id, text, {toks} AS toks,
             len({toks}) AS n_tokens,
             length(regexp_replace(text, '[^!-/:-@\\[-`{{-~]', '', 'g'))::DOUBLE / length(text) AS punct_ratio,
             length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text) AS digit_ratio
      FROM corpus
    ),
    k AS (
      SELECT doc_id, text, toks, n_tokens,
             floor(greatest(1.0 - least(punct_ratio * 2, 0.4) - least(digit_ratio * 2, 0.3)
                   - CASE WHEN n_tokens < 5 OR n_tokens > 100000 THEN 0.3 ELSE 0.0 END,
                   0.0) * 1000000 + 0.5) / 1000000 AS q
      FROM f
    ),
    s AS (SELECT doc_id, text, n_tokens, {scores} FROM k WHERE q >= 0.55),
    l AS (
      SELECT doc_id, text, n_tokens,
             CASE WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
                  WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
                  WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
                  WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
                  ELSE 'de' END AS pred_lang
      FROM s
    ),
    d AS (
      SELECT md5(text) AS h, min(doc_id) AS doc_id, min(pred_lang) AS pred_lang,
             min(n_tokens) AS n_tokens, count(*) AS dup_count
      FROM l WHERE pred_lang <> 'und'
      GROUP BY md5(text)
    )
    SELECT pred_lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(dup_count) AS BIGINT) AS total_raw
    FROM d GROUP BY pred_lang
    """


@_q("q73_curation_pipeline", _curation_oracle())
def q73_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation over a duplicated corpus: the
    composition a 100 TB pipeline actually runs — quality filter
    (Gopher-style score >= 0.55) -> language ID (drop 'und') -> exact
    dedup (min-id representative) -> per-language doc/token/raw counts.
    Every stage is an already-oracled operator (q23, q22, q17); this
    query pins that they compose without semantic drift. All map-side
    except the dedup shuffle and the final tiny aggregation."""
    from batch_process_spark.operators import dedup, text
    from batch_process_spark.queries_ext import _dup_corpus

    feats = text.quality_features(_dup_corpus(spark, sf_dir))
    kept = (
        feats.filter(F.col("quality_score") >= 0.55)
        .withColumn("pred_lang", text.lang_id("text"))
        .filter(F.col("pred_lang") != "und")
    )
    reps = dedup.exact_dedup(
        kept.select("doc_id", "text", "pred_lang", "n_tokens"), "text", "doc_id"
    )
    return reps.groupBy("pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("dup_count").cast("long").alias("total_raw"),
    )


@_q(
    "q74_grouping_id",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q74_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() id exposure: subtotal rows are
    distinguishable from genuine-NULL groups by the grouping bitmask
    (leftmost rollup column = most significant bit in both engines)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


@_q(
    "q75_interval_join",
    """
    WITH iv AS (
      SELECT o_orderkey,
             TIMESTAMP '2024-01-01' + (o_orderkey % 28) * INTERVAL 1 DAY AS start,
             TIMESTAMP '2024-01-01' + (o_orderkey % 28) * INTERVAL 1 DAY + INTERVAL 2 DAY AS "end"
      FROM orders WHERE o_orderkey <= 20
    )
    SELECT o_orderkey, count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM iv JOIN events ON ts >= start AND ts < "end"
    GROUP BY o_orderkey
    """,
)
def q75_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval (range) join: events falling inside 2-day
    windows derived from the first 20 orders (re-anchored into the
    events' time range — order dates and event timestamps don't
    overlap in this dataset). The operator rewrites the
    range predicate as a bucketed hash equi-join (see
    ``operators/joins.interval_join``) — the naive form is a
    BroadcastNestedLoopJoin, quadratic at scale (plan-guarded in
    ``test_plans.py``)."""
    from batch_process_spark.operators.joins import interval_join

    ev = _t(spark, sf_dir, "events").select("ts", "value")
    anchor = F.lit("2024-01-01 00:00:00").cast("timestamp")
    start = anchor + F.make_interval(days=(F.col("o_orderkey") % 28).cast("int"))
    iv = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 20)
        .select(
            "o_orderkey",
            start.alias("start"),
            (start + F.expr("INTERVAL 2 DAYS")).alias("end"),
        )
    )
    return (
        interval_join(ev, iv, "ts", "start", "end")
        .groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@_q(
    "q76_chunk_documents",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '[^0-9a-zA-Z]+'), x -> x <> '') AS toks
      FROM documents WHERE doc_id < 50
    ),
    c AS (
      SELECT doc_id, unnest(range(0, greatest(len(toks) - 16, 1), 48)) AS s, toks
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(s // 48 AS BIGINT) AS chunk_idx,
           CAST(len(toks[s + 1 : s + 64]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(toks[s + 1 : s + 64], ' ') AS chunk_text
    FROM c
    """,
)
def q76_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking: fixed 64-token windows, 16-token overlap
    (stride 48) — JVM-side sequence/posexplode/slice, one row per
    chunk, no Python in the path."""
    from batch_process_spark.operators.chunking import chunk_documents

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    out = chunk_documents(docs, chunk_tokens=64, overlap=16)
    return out.withColumn("chunk_idx", F.col("chunk_idx").cast("long")).withColumn(
        "n_chunk_tokens", F.col("n_chunk_tokens").cast("long")
    )


@_q(
    "q77_pack_documents",
    """
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS pack_shard,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '[^0-9a-zA-Z]+'), x -> x <> '')) AS n_tokens
      FROM documents
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           pack_shard,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY pack_shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens) / 512) AS BIGINT) AS pack_id
    FROM t
    """,
)
def q77_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing in its SCALE-DEFAULT sharded form: packing runs
    independently per shard (here a doc_id hash-mod shard) so the
    cumulative-sum window is per-shard parallel, never a single global
    task; pack identity is the pair (pack_shard, pack_id). Deterministic
    ~512-token packs via ordered cumulative token counts (a doc joins
    the pack its first token lands in) — reproducible across engines
    and runs, unlike greedy first-fit. The unsharded global form exists
    behind pack_documents(allow_global=True) and refuses >1M rows
    (chunking.py guard) — a registered catalog query must not carry the
    single-task scale-killer."""
    from batch_process_spark.operators.chunking import pack_documents

    docs = _t(spark, sf_dir, "documents").withColumn(
        "shard", F.col("doc_id") % 8
    )
    out = pack_documents(docs, budget_tokens=512, shard_col="shard")
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long"))


@_q(
    "q78_provenance",
    """
    SELECT 'documents.parquet' AS source_file,
           count(*) AS n_docs,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM documents
    GROUP BY 1
    """,
)
def q78_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-file provenance: every row traced to its shard via
    ``with_provenance`` (input_file_name, scheme-stripped), aggregated
    per file basename. The oracle pins the expected shard name (the
    driver's DuckDB views cannot expose filenames); the multi-file and
    row-in-file behavior is pytest-verified."""
    from batch_process_spark.operators.columns import with_provenance

    # provenance relies on _t() reading the table's own files, so the
    # names it reports are the true source shards
    docs = with_provenance(_t(spark, sf_dir, "documents"))
    return (
        docs.withColumn(
            "source_file", F.regexp_extract("source_file", r"([^/]+)$", 1)
        )
        .groupBy("source_file")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


def _cc_oracle() -> str:
    from batch_process_spark.queries_ext import _minhash_oracle

    pairs = _minhash_oracle()
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(src, node) AS (
      SELECT src, src FROM (SELECT DISTINCT src FROM edges)
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node
    ),
    cc AS (SELECT src AS node, min(node) AS component FROM reach GROUP BY src)
    SELECT node, component, cluster_size
    FROM cc JOIN (SELECT component, count(*) AS cluster_size
                  FROM cc GROUP BY component) USING (component)
    """


@_q("q79_dedup_clusters", _cc_oracle())
def q79_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected components -> clusters: the last
    mile of dedup (a-b and b-c collapse to one survivor even though
    (a,c) was never a candidate pair). Iterative min-label propagation
    Spark-side; the oracle computes exact transitive closure with a
    recursive CTE over the identical MinHash pair stream."""
    from batch_process_spark.operators import dedup
    from batch_process_spark.operators.graph import dedup_clusters
    from batch_process_spark.queries_ext import _near_dup_corpus

    pairs = dedup.minhash_near_dup_pairs(
        _near_dup_corpus(spark, sf_dir), "doc_id", "text",
        k=3, num_hashes=16, bands=4, threshold=0.7,
    )
    return dedup_clusters(pairs)


@_q(
    "q80_salted_join",
    """
    SELECT o_orderpriority,
           count(*) AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q80_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join parity: the salt must be INVISIBLE in the
    results — fact salted deterministically, dim replicated per bucket,
    equi-join on (key, salt) — so the oracle is the plain unsalted
    join. Catches double-counting (nondeterministic salt under retry)
    and dropped buckets."""
    from batch_process_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, ["l_orderkey"], buckets=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@_q(
    "q81_statistics",
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           floor(stddev_samp(l_extendedprice) * 10000 + 0.5) / 10000 AS sd_price,
           floor(var_samp(l_discount) * 1000000000 + 0.5) / 1000000000 AS var_disc,
           floor(corr(l_extendedprice, l_quantity) * 1000000 + 0.5) / 1000000 AS corr_pq,
           floor(covar_samp(l_extendedprice, l_discount) * 10000 + 0.5) / 10000 AS cov_pd
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q81_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: sample stddev/variance,
    correlation, covariance — half-up-rounded on both sides at scales
    coarse enough to absorb sum-order ulp drift between engines."""
    from batch_process_spark.functions.rounding import round_half_up

    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            round_half_up(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
            round_half_up(F.var_samp("l_discount"), 9).alias("var_disc"),
            round_half_up(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
            round_half_up(F.covar_samp("l_extendedprice", "l_discount"), 4).alias("cov_pd"),
        )
    )


@_q(
    "q82_lenient_json",
    """
    WITH j AS (
      SELECT event_type,
             CASE WHEN event_id % 7 = 0 THEN 'x' || props ELSE props END AS doc
      FROM events
    ), v AS (
      SELECT event_type, doc,
             CASE WHEN json_valid(doc) THEN (doc->>'k') IS NOT NULL
                  ELSE FALSE END AS ok
      FROM j
    )
    SELECT event_type,
           CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           CAST(sum(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_corrupt,
           CAST(sum(CASE WHEN ok THEN CAST(doc->>'k' AS BIGINT) ELSE 0 END) AS BIGINT) AS sum_k
    FROM v GROUP BY event_type
    """,
)
def q82_lenient_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 lenient JSON at query level: a stream with every 7th record
    corrupted (leading garbage — Spark's from_json tolerates TRAILING
    garbage after a complete value, DuckDB's json_valid doesn't)
    parses PERMISSIVEly: bad rows become NULL structs (errors-as-data),
    good rows keep their payload. "Valid" means the SAME thing on both
    sides — parses AND carries a non-null integer ``k`` — so a
    structurally-valid document missing ``k`` counts corrupt in both
    engines, not just in Spark."""
    ev = _t(spark, sf_dir, "events")
    doc = F.when(
        F.col("event_id") % 7 == 0, F.concat(F.lit("x"), F.col("props"))
    ).otherwise(F.col("props"))
    parsed = ev.select(
        "event_type", F.from_json(doc, "k long").alias("j")
    )
    valid = F.col("j").isNotNull() & F.col("j.k").isNotNull()
    return parsed.groupBy("event_type").agg(
        F.sum(valid.cast("long")).alias("n_valid"),
        F.sum((~valid).cast("long")).alias("n_corrupt"),
        F.sum(F.when(valid, F.col("j.k")).otherwise(0)).alias("sum_k"),
    )


@_q(
    "q83_range_frame",
    """
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
           round(sum(value) OVER w, 4) AS sum_last_hour
    FROM events
    WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def q83_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE window frame: per-user trailing-hour count/sum.
    The frame orders on epoch MICROSECONDS on both sides — whole-second
    ordering (unix_timestamp vs an INTERVAL frame) truncates sub-second
    gaps and silently flips membership for pairs within 1s of the
    boundary."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 4).alias("sum_last_hour"),
    )


@_q(
    "q84_rank_family",
    """
    SELECT c_custkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           floor(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS pct_rank,
           floor(cume_dist() OVER w * 1000000 + 0.5) / 1000000 AS cume
    FROM customer
    WHERE c_custkey <= 500
    WINDOW w AS (ORDER BY round(c_acctbal, 2), c_custkey)
    """,
)
def q84_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family over a deterministic total order:
    ntile/rank/dense_rank/percent_rank/cume_dist (quotients half-up
    rounded on both sides).

    Computed by the two-phase distributed ranker (``operators/
    ranking.global_ranks``), not a global window: range shuffle +
    per-partition local ranks + broadcast partition offsets — no
    single-task ``WindowExec`` with an empty partition spec."""
    from batch_process_spark.functions.rounding import round_half_up
    from batch_process_spark.operators.ranking import global_ranks

    cust = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    ranked = global_ranks(
        cust,
        [F.round("c_acctbal", 2), F.col("c_custkey")],
        sort_key_cols=["__bal2", "__ck"],
        n_tiles=4,
    )
    return ranked.select(
        "c_custkey",
        F.col("ntile").alias("quartile"),
        F.col("rank").alias("rnk"),
        F.col("dense_rank").alias("drnk"),
        round_half_up(F.col("percent_rank"), 6).alias("pct_rank"),
        round_half_up(F.col("cume_dist"), 6).alias("cume"),
    )


@_q(
    "q85_set_ops_all",
    """
    WITH a AS (SELECT l_orderkey AS k FROM lineitem WHERE l_quantity >= 25),
    b AS (SELECT l_orderkey AS k FROM lineitem WHERE l_returnflag = 'R')
    SELECT 'except_all' AS op, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    UNION ALL
    SELECT 'intersect_all' AS op, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    """,
)
def q85_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set operations: EXCEPT ALL / INTERSECT ALL preserve
    duplicate multiplicity (|A\\B| = sum max(cnt_a - cnt_b, 0) per key)
    — semantics the distinct forms (q12) can't exercise."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") >= 25).select(F.col("l_orderkey").alias("k"))
    b = li.filter(F.col("l_returnflag") == "R").select(F.col("l_orderkey").alias("k"))
    ex = a.exceptAll(b).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("except_all").alias("op"), "n"
    )
    ia = a.intersectAll(b).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("intersect_all").alias("op"), "n"
    )
    return ex.unionByName(ia)


@_q(
    "q86_explode_outer",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN []
                  ELSE list_filter(regexp_split_to_array(lower(trim(text)), '[^0-9a-zA-Z]+'), x -> x <> '')
             END AS toks
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id, u.tok
    FROM d LEFT JOIN LATERAL (SELECT unnest(toks) AS tok) u ON true
    """,
)
def q86_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER explode: docs whose token array is empty (every 10th,
    forced) must survive as a (doc_id, NULL) row — the inner explode
    silently drops them, which loses records in flattening pipelines."""
    from batch_process_spark.operators.dedup import tokens_col

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = F.when(F.col("doc_id") % 10 == 0, F.array().cast("array<string>")).otherwise(
        tokens_col("text")
    )
    return docs.select("doc_id", F.explode_outer(toks).alias("tok"))


@_q(
    "q87_window_navigation",
    """
    SELECT event_id, user_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type)  OVER w AS last_type,
           nth_value(event_type, 2) OVER w AS second_type,
           lead(event_type, 1, 'END') OVER o AS next_type,
           lag(event_type, 2, 'START') OVER o AS prev2_type
    FROM events
    WHERE user_id < 20
    WINDOW o AS (PARTITION BY user_id ORDER BY ts, event_id),
           w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q87_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window navigation family: first/last/nth over an explicit
    full-partition ROWS frame (the default frame differs for
    last_value and is a classic cross-engine trap), plus lead/lag with
    defaults over a deterministic (ts, event_id) order."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    o = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = o.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
        F.lead("event_type", 1, "END").over(o).alias("next_type"),
        F.lag("event_type", 2, "START").over(o).alias("prev2_type"),
    )


@_q(
    "q88_conditional_aggs",
    """
    SELECT l_linestatus,
           CAST(count_if(l_quantity > 45) AS BIGINT) AS n_big,
           bool_or(l_returnflag = 'R')  AS any_returned,
           bool_and(l_discount >= 0)    AS all_nonneg_disc,
           (max({'p': l_extendedprice, 'k': l_orderkey})).k AS priciest_order,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def q88_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregate family: count_if / bool_or / bool_and /
    lexicographic struct-max (tie-safe arg-max: DuckDB's arg_max cannot
    order on a composite, so both sides take max(struct(price, key)).key,
    which breaks price ties on the key deterministically) — the
    predicate-shaped aggregates a rules engine compiles to."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.count_if(F.col("l_quantity") > 45).alias("n_big"),
            F.bool_or(F.col("l_returnflag") == "R").alias("any_returned"),
            F.bool_and(F.col("l_discount") >= 0).alias("all_nonneg_disc"),
            F.max(F.struct(F.col("l_extendedprice").alias("p"), F.col("l_orderkey").alias("k")))["k"].alias("priciest_order"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
    )
