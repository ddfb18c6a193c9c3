"""Query catalog part 3: window functions, grouping sets family,
pivot/unpivot, time windows + sessionization, as-of join, semi/anti
joins, date/string scalar families, streaming demo.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from batch_process_spark.operators import joins
from batch_process_spark.operators.asof import asof_join
from batch_process_spark.queries import _events_stream, _q, _t, round_half_up
from batch_process_spark.streaming.windows import session_agg, tumbling_window_agg


@_q(
    "q32_running_totals",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS UNBOUNDED PRECEDING), 4) AS running_total,
           round(o_totalprice - lag(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), 4) AS delta_prev,
           rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
    FROM orders WHERE o_custkey <= 100
    """,
)
def q32_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 window surface: running sum, lag delta, rank — one shuffle
    on the partition key serves all three frames."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 100)
        .select(
            "o_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round(F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4).alias("running_total"),
            F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 4).alias("delta_prev"),
            F.rank().over(wr).alias("price_rank"),
        )
    )


@_q(
    "q33_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           count(*) AS n_rows, round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q33_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 rollup (subtotal hierarchy — free Spark generalization)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
    )


@_q(
    "q34_cube",
    """
    SELECT p_brand, p_size, count(*) AS n_parts, floor(avg(p_retailprice) * 10000 + 0.5) / 10000 AS avg_price
    FROM part WHERE p_size <= 10
    GROUP BY CUBE (p_brand, p_size)
    """,
)
def q34_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 cube (all grouping-set combinations)."""
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 10)
        .cube("p_brand", "p_size")
        .agg(F.count(F.lit(1)).alias("n_parts"), round_half_up(F.avg("p_retailprice")).alias("avg_price"))
    )


@_q(
    "q35_pivot",
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS F,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q35_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: status values become columns (explicit value list keeps
    the schema stable — never let pivot scan for distinct values on a
    100 TB input)."""
    out = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .sum("l_quantity")
    )
    return out.select(
        "l_returnflag", F.round("F", 4).alias("F"), F.round("O", 4).alias("O")
    )


@_q(
    "q36_unpivot",
    """
    SELECT o_orderkey, 'total' AS metric, round(o_totalprice, 4) AS val
    FROM orders WHERE o_orderkey <= 200
    UNION ALL
    SELECT o_orderkey, 'key100' AS metric, CAST(o_custkey AS DOUBLE) AS val
    FROM orders WHERE o_orderkey <= 200
    """,
)
def q36_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack() — wide metrics to long rows, map-only."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 200)
        .select(
            "o_orderkey",
            F.expr(
                "stack(2, 'total', round(o_totalprice, 4), 'key100', cast(o_custkey as double))"
            ).alias("metric", "val"),
        )
    )


@_q(
    "q37_tumbling_windows",
    """
    SELECT date_trunc('hour', ts) AS bucket_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value,
           floor(avg(value) * 10000 + 0.5) / 10000 AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def q37_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed aggregation (batch twin of the streaming path —
    same code runs over readStream with a watermark)."""
    return tumbling_window_agg(
        _t(spark, sf_dir, "events"), width="1 hour", keys=["event_type"]
    )


@_q(
    "q38_sessionization",
    """
    WITH d AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) // 1000000 - epoch_us(lag(ts) OVER w) // 1000000 > 1800
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    s AS (
      SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM d
    )
    SELECT user_id, session_idx,
           count(*) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           round(sum(value), 4) AS sum_value
    FROM s GROUP BY user_id, session_idx
    """,
)
def q38_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap-break lag + running sum (one shuffle on the
    user key; the streaming twin is session_window + watermark)."""
    return session_agg(_t(spark, sf_dir, "events"), gap_minutes=30)


@_q(
    "q39_asof_join",
    """
    WITH ord AS (
      SELECT o_custkey AS ckey, o_orderdate,
             max(o_orderkey) AS last_orderkey,
             round(sum(o_totalprice), 4) AS day_total
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    ev AS (SELECT event_id, user_id + 1 AS ckey, ts FROM events WHERE event_id < 2000)
    SELECT ev.event_id, ev.ckey,
           ord.last_orderkey AS last_orderkey_r,
           ord.day_total     AS day_total_r
    FROM ev ASOF LEFT JOIN ord
      ON ev.ckey = ord.ckey AND ev.ts >= ord.o_orderdate
    """,
)
def q39_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (nearest prior order per event) via the union +
    last-value-forward window rewrite — exact, one shuffle, no
    per-group memory constraint. Oracle: DuckDB's native ASOF JOIN."""
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("ckey"), "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("last_orderkey"),
            F.round(F.sum("o_totalprice"), 4).alias("day_total"),
        )
        .withColumn("t", F.col("o_orderdate"))
        .drop("o_orderdate")
    )
    events = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 2000)
        .select("event_id", (F.col("user_id") + 1).alias("ckey"), F.col("ts").alias("t"))
    )
    out = asof_join(events, orders, on="t", by="ckey")
    return out.select("event_id", "ckey", "last_orderkey_r", "day_total_r")


@_q(
    "q40_semi_anti",
    """
    SELECT 'with_orders' AS tag, c_mktsegment, count(*) AS n
    FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    UNION ALL
    SELECT 'no_orders' AS tag, c_mktsegment, count(*) AS n
    FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q40_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti joins (EXISTS / NOT EXISTS) — no payload duplication,
    the join only tests key presence."""
    from batch_process_spark.operators.joins import anti, semi
    from batch_process_spark.operators.sets import union_align

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    with_o = (
        semi(cust, orders, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("with_orders").alias("tag"), "c_mktsegment", "n")
    )
    without = (
        anti(cust, orders, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("no_orders").alias("tag"), "c_mktsegment", "n")
    )
    return union_align([with_o, without])


@_q(
    "q41_date_functions",
    """
    SELECT year(o_orderdate) AS y,
           quarter(o_orderdate) AS q,
           month(o_orderdate) AS m,
           count(*) AS n_orders,
           CAST(min(date_trunc('month', o_orderdate)) AS TIMESTAMP) AS month_start,
           max(datediff('day', TIMESTAMP '1992-01-01 00:00:00', o_orderdate)) AS max_days_since
    FROM orders GROUP BY 1, 2, 3
    """,
)
def q41_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 date/time family: extract, truncate, difference."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("y"),
            F.quarter("o_orderdate").alias("q"),
            F.month("o_orderdate").alias("m"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min(F.date_trunc("month", "o_orderdate")).alias("month_start"),
            F.max(
                F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("timestamp"))
            ).alias("max_days_since"),
        )
    )


@_q(
    "q42_string_functions",
    """
    SELECT s_suppkey,
           lpad(CAST(s_suppkey AS VARCHAR), 8, '0')       AS padded,
           replace(s_name, '#', '-')                      AS renamed,
           reverse(s_name)                                AS rev,
           strpos(s_name, '#')                            AS hash_pos,
           substr(s_name, 1, 8)                           AS prefix,
           repeat('ab', 3)                                AS rep
    FROM supplier WHERE s_suppkey <= 50
    """,
)
def q42_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 string family round 2."""
    return (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") <= 50)
        .select(
            "s_suppkey",
            F.lpad(F.col("s_suppkey").cast("string"), 8, "0").alias("padded"),
            F.replace(F.col("s_name"), F.lit("#"), F.lit("-")).alias("renamed"),
            F.reverse("s_name").alias("rev"),
            F.instr("s_name", "#").alias("hash_pos"),
            F.substring("s_name", 1, 8).alias("prefix"),
            F.repeat(F.lit("ab"), 3).alias("rep"),
        )
    )


@_q(
    "q43_percentiles",
    """
    SELECT l_returnflag,
           floor(quantile_cont(l_extendedprice, 0.5) * 10000 + 0.5) / 10000 AS p50,
           floor(quantile_cont(l_extendedprice, 0.9) * 10000 + 0.5) / 10000 AS p90,
           round(min(l_extendedprice), 4) AS min_price,
           round(max(l_extendedprice), 4) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q43_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines: linear
    interpolation). At 100 TB swap for approx_percentile — exact
    percentile requires a per-group sort."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            round_half_up(F.expr("percentile(l_extendedprice, 0.5)")).alias("p50"),
            round_half_up(F.expr("percentile(l_extendedprice, 0.9)")).alias("p90"),
            F.round(F.min("l_extendedprice"), 4).alias("min_price"),
            F.round(F.max("l_extendedprice"), 4).alias("max_price"),
        )
    )


@_q(
    "q44_streaming_tumbling",
    """
    SELECT date_trunc('hour', ts) AS bucket_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value,
           floor(avg(value) * 10000 + 0.5) / 10000 AS avg_value
    FROM events GROUP BY 1, 2
    """,
)
def q44_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming: the SAME tumbling aggregation as q37,
    driven through readStream -> memory sink to completion — and held
    to the SAME oracle: the complete-mode result table must equal the
    batch aggregation value-for-value (unified batch/stream semantics,
    checked, not assumed)."""
    from batch_process_spark.streaming.windows import drive_stream_to_memory

    stream, _ = _events_stream(spark, sf_dir)
    return drive_stream_to_memory(
        spark,
        tumbling_window_agg(stream, width="1 hour", keys=["event_type"]),
        "q44_out",
        "complete",
    )


@_q(
    "q45_array_functions",
    """
    SELECT doc_id,
           len(toks)                                   AS n_toks,
           toks[1]                                     AS first_tok,
           list_sort(list_distinct(toks))[1]           AS min_tok,
           len(list_filter(toks, t -> len(t) > 4))     AS n_long,
           CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS total_len,
           array_to_string(toks[1:3], '-')             AS head3
    FROM (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '[^0-9a-zA-Z]+'), x -> x <> '') AS toks
      FROM documents WHERE doc_id < 100
    )
    """,
)
def q45_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 array family: size/index/sort/filter/aggregate/slice/join —
    all JVM-side array expressions (no explode, no shuffle)."""
    from batch_process_spark.operators.dedup import tokens_col

    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", tokens_col("text").alias("toks"))
    )
    return docs.select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        F.element_at("toks", 1).alias("first_tok"),
        F.element_at(F.array_sort(F.array_distinct("toks")), 1).alias("min_tok"),
        F.size(F.filter("toks", lambda t: F.length(t) > 4)).alias("n_long"),
        F.aggregate(
            F.transform("toks", lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("total_len"),
        F.array_join(F.slice("toks", 1, 3), "-").alias("head3"),
    )


@_q(
    "q46_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 4) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
    """,
)
def q46_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets (SQL API — same Catalyst Expand as
    rollup/cube)."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("q46_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 4) AS qty
        FROM q46_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
        """
    )


@_q(
    "q47_promo_revenue",
    """
    SELECT round(
             100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
           count(*) AS n_rows
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-04-01 00:00:00'
    """,
)
def q47_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a broadcast join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-04-01 00:00:00").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(joins.gated_broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0 * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)) / F.sum(rev),
                4,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@_q(
    "q48_returned_revenue",
    """
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           min(n_name) AS nation
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q48_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top-20."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(joins.gated_broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.min("n_name").alias("nation"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@_q(
    "q49_large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250
    )
    SELECT o_custkey, count(*) AS n_big_orders, round(sum(o_totalprice), 4) AS total
    FROM orders JOIN big ON o_orderkey = big.l_orderkey
    GROUP BY o_custkey
    """,
)
def q49_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING subquery feeding a semi-ish join."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 250)
        .select("l_orderkey")
    )
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_big_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
    )


@_q(
    "q50_order_priority_check",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q50_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery -> left-semi join."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    matched = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return matched.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@_q(
    "q51_salted_agg",
    """
    SELECT l_returnflag, count(*) AS cnt, round(sum(l_extendedprice), 0) AS sum_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q51_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation == plain groupBy (the salt adds
    one cheap pre-shuffle stage; correctness is oracle-checked against
    the unsalted SQL)."""
    from batch_process_spark.operators.skew import salted_agg

    return salted_agg(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        {"cnt_p": F.count(F.lit(1)), "sum_p": F.sum("l_extendedprice")},
        {"cnt": F.sum("cnt_p"), "sum_price": F.round(F.sum("sum_p"), 0)},
        buckets=16,
    )


@_q(
    "q52_frequent_items",
    """
    WITH c AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type),
         t AS (SELECT count(*) AS tot FROM events)
    SELECT event_type, cnt, round(cnt::DOUBLE / tot, 6) AS share
    FROM c, t
    WHERE round(cnt::DOUBLE / tot, 6) >= 0.05
    ORDER BY cnt DESC, event_type
    LIMIT 20
    """,
)
def q52_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters (two-pass exact counts of candidate items — the
    scale rewrite of a count-min sketch when candidates are few)."""
    from batch_process_spark.operators.sketches import frequent_items

    return frequent_items(_t(spark, sf_dir, "events"), "event_type", min_share=0.05, k=20)


@_q(
    "q53_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
)
def q53_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue view + scalar-subquery max filter."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_rev"))
    )
    supp = _t(spark, sf_dir, "supplier")
    best = rev.agg(F.max("total_rev").alias("m"))
    return (
        supp.join(rev, supp.s_suppkey == rev.l_suppkey)
        .join(F.broadcast(best), F.col("total_rev") == F.col("m"))
        .select("s_suppkey", "s_name", "total_rev")
    )


@_q(
    "q54_small_quantity_revenue",
    """
    WITH pa AS (
      SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l_extendedprice), 2) AS small_rev, count(*) AS n_rows
    FROM lineitem JOIN pa USING (l_partkey)
    WHERE l_quantity < half_avg
    """,
)
def q54_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated avg-per-part subquery, rewritten as
    an explicit per-key aggregate join (the scalable decorrelation)."""
    li = _t(spark, sf_dir, "lineitem")
    pa = li.groupBy("l_partkey").agg((0.5 * F.avg("l_quantity")).alias("half_avg"))
    return (
        li.join(pa, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("small_rev"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@_q(
    "q55_nation_share",
    """
    WITH nv AS (
      SELECT n_name, sum(s_acctbal) AS v
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      GROUP BY n_name
    )
    SELECT n_name, round(v, 2) AS value
    FROM nv WHERE v > (SELECT 0.05 * sum(v) FROM nv)
    """,
)
def q55_nation_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups exceeding a share-of-total threshold
    (scalar subquery against the same aggregate)."""
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    nv = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum("s_acctbal").alias("v"))
    )
    thresh = nv.agg((0.05 * F.sum("v")).alias("t"))
    return (
        nv.join(F.broadcast(thresh), F.col("v") > F.col("t"))
        .select("n_name", F.round("v", 2).alias("value"))
    )


@_q(
    "q56_blade_load_parse",
    """
    WITH o AS (
      SELECT o_orderkey,
             floor(o_totalprice * 100 + 0.5) / 100 AS t,
             floor(o_totalprice * 2 * 100 + 0.5) / 100 AS t2
      FROM orders WHERE o_orderkey <= 200
    ), k AS (SELECT unnest(['mean', 'amplitude']) AS load_kind)
    SELECT concat('case_', o_orderkey) AS path,
           CAST(1 AS INT) AS rotor,
           CAST(o_orderkey % 4 + 1 AS INT) AS blade,
           8.2 AS radius,
           258.0 AS rpm,
           'counter' AS rotation,
           load_kind,
           0.25 AS station_r,
           CASE WHEN load_kind = 'mean' THEN t  ELSE 1.0 END AS torque,
           CASE WHEN load_kind = 'mean' THEN t2 ELSE 2.0 END AS flap_moment,
           3.0 AS lag_moment, 4.0 AS axial_force,
           5.0 AS chord_force, 6.0 AS normal_force
    FROM o CROSS JOIN k
    """,
)
def q56_blade_load_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 end-to-end through the engine's real parser: synthesize one
    fixed-format blade-load report per order-group, parse with
    ``parse_blade_load_files`` (Arrow 1->N), return the long table.
    The oracle recomputes the expected parse directly from orders —
    generate->render->parse must be lossless (round_half_up keeps the
    rendered numbers engine-portable; doubles below 1e7 round-trip
    through Spark's string cast exactly)."""
    from batch_process_spark.sources.report_parser import parse_blade_load_files

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    report = F.concat(
        F.lit(" ROTOR 1\n RADIUS (M) =  8.20\n ... ROTATIONAL SPEED (RPM) =  258.0\n"),
        F.lit(" COUNTER ROTATION DIRECTION\n"),
        F.lit(" OUTPUT = ROTOR 1 BLADE "),
        (F.col("o_orderkey") % 4 + 1).cast("string"),
        F.lit(" LOAD 0.25R F\n MEAN      "),
        F.concat_ws(
            " ",
            round_half_up(F.col("o_totalprice"), 2),
            round_half_up(F.col("o_totalprice") * 2, 2),
            F.lit("3.0"), F.lit("4.0"), F.lit("5.0"), F.lit("6.0"),
        ),
        F.lit("\n 1/2 PEAK-TO-PEAK  1.0 2.0 3.0 4.0 5.0 6.0\n"),
    )
    files = orders.select(
        F.concat(F.lit("case_"), F.col("o_orderkey")).alias("path"), report.alias("text")
    )
    return parse_blade_load_files(files).orderBy("path", "load_kind")


@_q(
    "q57_struct_text_parse",
    """
    SELECT concat('doc_', doc_id) AS path,
           CAST(doc_id AS INT) AS doc,
           upper(lang) AS lang,
           CAST(n_chars AS INT) AS length,
           split_part(substr(text, 1, 30), chr(10), 1) AS body_line
    FROM documents WHERE doc_id < 200
    """,
)
def q57_struct_text_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 end-to-end: synthesize OUTPUT-block documents, parse with
    the Field/Optional/Repeat combinators inside ``parse_files``. The
    oracle recomputes the expected parse directly from documents
    (body_line = first line of the 30-char prefix: the line-anchored
    Field pattern stops at an embedded newline)."""
    from batch_process_spark.sources.struct_text import Field, Optional, Repeat, parse_files

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    body = F.concat(
        F.lit("OUTPUT = DOC "), F.col("doc_id").cast("string"), F.lit("\n"),
        F.lit("LANG = "), F.upper("lang"), F.lit("\n"),
        F.lit("LEN = "), F.col("n_chars").cast("string"), F.lit("\n"),
        F.lit("BODY "), F.substring("text", 1, 30), F.lit("\nEND"),
    )
    files = docs.select(F.concat(F.lit("doc_"), F.col("doc_id")).alias("path"), body.alias("text"))
    schema = [
        Field(label="out", pattern=r"^OUTPUT = DOC (?P<doc>\d+)", converter=int),
        Optional(Field(label="lang", pattern=r"^LANG = (\w+)")),
        Optional(Field(label="length", pattern=r"^LEN = (\d+)", converter=int)),
        Repeat(label="body", items=[Field(label="line", pattern=r"^BODY (.+)$")], until=r"^END$"),
    ]
    return parse_files(
        files, schema, key_end=r"^END$", explode_field="body",
        output_schema="doc int, lang string, length int, body_line string",
    ).orderBy("doc")


@_q(
    "q58_explode_tokens",
    f"""
    SELECT tok, count(*) AS cnt
    FROM (
      SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '[^0-9a-zA-Z]+'), x -> x <> '')) AS tok
      FROM documents WHERE doc_id < 100
    )
    GROUP BY tok
    """,
)
def q58_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode family: array -> rows -> count (the UDTF-shaped 1->N
    path as pure built-ins)."""
    from batch_process_spark.operators.dedup import tokens_col

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return (
        docs.select(F.explode(tokens_col("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@_q(
    "q59_pii_redaction",
    r"""
    WITH synth AS (
      SELECT doc_id,
             concat('contact user', doc_id, '@example.com or https://site', doc_id % 7,
                    '.org/page ip 10.0.0.', doc_id % 255, ' | ', substr(text, 1, 40)) AS t
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(t, 'https?://[^\s]+', '<URL>', 'g'),
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+?[0-9][0-9 ()-]{7,}[0-9]', '<PHONE>', 'g'),
             '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IPV4>', 'g') AS clean
    FROM synth
    """,
)
def q59_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star text cleaning: PII redaction (emails, URLs, phones,
    IPs -> typed tokens), map-only regexp passes."""
    from batch_process_spark.operators.text import redact_pii

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    synth = docs.select(
        "doc_id",
        F.concat(
            F.lit("contact user"), F.col("doc_id"), F.lit("@example.com or https://site"),
            (F.col("doc_id") % 7), F.lit(".org/page ip 10.0.0."), (F.col("doc_id") % 255),
            F.lit(" | "), F.substring("text", 1, 40),
        ).alias("t"),
    )
    return synth.select("doc_id", redact_pii("t").alias("clean"))


@_q(
    "q60_top_bigrams",
    """
    WITH toks AS (
      SELECT list_filter(regexp_split_to_array(lower(trim(text)), '[^0-9a-zA-Z]+'), x -> x <> '') AS w
      FROM documents
    ),
    grams AS (
      SELECT unnest(list_transform(range(1, greatest(len(w) - 1, 0) + 1),
                                   i -> concat_ws(' ', w[i], w[i+1]))) AS ngram
      FROM toks WHERE len(w) >= 2
    )
    SELECT ngram, count(*) AS cnt FROM grams GROUP BY ngram
    ORDER BY cnt DESC, ngram LIMIT 20
    """,
)
def q60_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram statistics: top-20 bigrams by frequency."""
    from batch_process_spark.operators.text import top_ngrams

    return top_ngrams(_t(spark, sf_dir, "documents"), "text", n=2, k=20)


@_q(
    "q61_merge_upsert",
    """
    WITH source AS (
      SELECT c_custkey, c_name, floor(c_acctbal * 1.1 * 100 + 0.5) / 100 AS bal
      FROM customer WHERE c_custkey % 10 = 0
    ),
    target AS (SELECT c_custkey, c_name, round(c_acctbal, 2) AS bal FROM customer)
    SELECT * FROM target WHERE c_custkey NOT IN (SELECT c_custkey FROM source)
    UNION ALL
    SELECT * FROM source
    """,
)
def q61_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE upsert (anti-join + union rewrite): every 10th customer's
    balance updated, the rest pass through."""
    from batch_process_spark.operators.merge import merge_upsert

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("bal")
    )
    source = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 10 == 0)
        .select("c_custkey", "c_name", round_half_up(F.col("c_acctbal") * 1.1, 2).alias("bal"))
    )
    return merge_upsert(cust, source, ["c_custkey"])
