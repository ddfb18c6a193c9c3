"""Query catalog: every implemented operator exposed as a named query.

Each entry pairs a Spark implementation (exercising the
``batch_process_spark`` operator library) with an ANSI-SQL oracle that
DuckDB runs on the same parquet tables. Column names/aliases match
exactly; nondeterministic parts (float agg order, collect order, rank
ties) are pinned by rounding + explicit sort keys in BOTH sides.

Query ids map to SURVEY §2 operators; see each docstring.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from batch_process_spark.catalog import TableStore
from batch_process_spark.operators import caching
from batch_process_spark.operators.filtering import filter_dataframe, select_records
from batch_process_spark.operators.grouping import merge_results
from batch_process_spark.operators.joins import enrich_labels
from batch_process_spark.operators.sets import except_keys, intersect_keys, union_align

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


from batch_process_spark.functions.rounding import round_half_up  # noqa: E402


def _q(name: str, oracle: str | None = None):
    """Register a catalog query, wrapped in the session-scoped PLAN
    CACHE: every registered query is a pure read-only transformation of
    (session, sf_dir), so an identical re-invocation — driver
    verification re-runs, bench trials, repeated CLI calls — returns
    the SAME DataFrame object instead of re-paying plan construction
    (hundreds of Py4J round-trips, 0.1-0.7 s per query measured at the
    bench; the prepared-statement / cached-logical-plan feature of any
    engine). Invalidated by ``invalidate_tables`` together with the
    table memos when underlying files are rewritten. The wrapper takes
    its memo from ``_pin_session_confs``, so the session confs every
    query depends on are pinned before the first build; no query pins
    them itself."""

    def deco(fn):
        import functools

        @functools.wraps(fn)
        def cached(spark: SparkSession, sf_dir: str) -> DataFrame:
            memo = _pin_session_confs(spark)
            key = ("__plan__", name, sf_dir)
            if key not in memo:
                memo[key] = fn(spark, sf_dir)
            return memo[key]

        QUERIES[name] = cached
        if oracle is not None:
            ORACLES[name] = oracle
        return cached

    return deco


# Per-session memo of pinned confs and loaded tables. Keyed on the live
# SparkSession object (WeakKeyDictionary: entries die with the session,
# and ids are never reused while the session is alive). The table memo
# holds DataFrame *plans* (schema + scan), not data — re-calling
# spark.read.parquet re-reads footers and re-infers schema on every
# query, which at bench scale is pure fixed overhead the DuckDB
# baseline's registered views don't pay.
#
# Tradeoff vs round 1: confs are pinned ONCE per session, not per call
# (the 3 conf.set RPCs per table read were measurable bench overhead).
# If an external actor mutates session.timeZone / ansi.enabled mid-run,
# call _SESSION_MEMO.clear() to force a re-pin; nothing in the driver
# harness, selfcheck, bench, or test suite does so.
import weakref  # noqa: E402

_SESSION_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


def _pin_session_confs(spark: SparkSession) -> dict:
    """Pin, once per session, the runtime confs every catalog query
    depends on, and return the session's memo. The confs stay set after
    the query returns on purpose: a result's timestamps render in the
    session time zone at the caller's later collect, so UTC must outlive
    the call."""
    try:
        memo = _SESSION_MEMO.setdefault(spark, {})
    except TypeError:  # non-weakref-able session stand-in (test fakes)
        memo = {}
    if "pinned" not in memo:
        # Defensive: these queries may run under the driver's own session.
        # Pin the runtime-settable confs correctness depends on (oracle
        # comparison assumes UTC timestamps and lenient/NULL semantics).
        # events.ts is parquet TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects without nanosAsLong (harmless for other tables).
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Plain parquet TIMESTAMP(MICROS) must land as session-TZ
        # TIMESTAMP at the SCAN (not via a post-read cast): a cast wrapped
        # around the column blocks parquet predicate pushdown — measured
        # 20x on the date-filtered joins when the generator switched
        # events/orders/lineitem timestamps from NANOS to MICROS.
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        memo["pinned"] = True
    return memo


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read table ``name`` (memoized per session) with runtime-conf
    pinning."""
    memo = _pin_session_confs(spark)
    key = (sf_dir, name)
    if key not in memo:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            df = _events_ts(df)
        # MICROS-variant timestamps arrive as session-TZ TIMESTAMP via the
        # inferTimestampNTZ=false pin above (UTC session == DuckDB's naive
        # values, and filters stay pushdown-eligible). If an external
        # session read them as NTZ before our pin landed, fail loudly
        # rather than silently breaking timestamp comparisons.
        ntz = [n for n, t in df.dtypes if t == "timestamp_ntz"]
        if ntz:
            raise RuntimeError(
                f"{name}: columns {ntz} read as TIMESTAMP_NTZ — the session read "
                "this table before _t() could pin inferTimestampNTZ=false; "
                "clear the session's dataframe caches and re-read via _t()"
            )
        memo[key] = df
    return memo[key]


def _events_ts(df: DataFrame) -> DataFrame:
    """``events.ts`` as a session-TZ timestamp, batch or stream. The
    generator variant that ships ts as parquet TIMESTAMP(NANOS) reads as
    long (nanosAsLong): truncate to micros with integer DIV (matches
    DuckDB's ns->us truncation exactly). TIMESTAMP(MICROS) passes as is."""
    if dict(df.dtypes).get("ts") == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def _events_stream(spark: SparkSession, sf_dir: str, tag: str = "events",
                   n_slices: int = 1):
    """The events table as a parquet file stream: ``(stream, feeds)``.

    ``caching.staged_slices`` copies the table into ``n_slices``
    contiguous slices in a temp dir memoized per ``(sf_dir, tag)``.
    Slice 0 is there when the stream starts and each feed lands the
    next, so a drive over ``feeds`` runs ``n_slices`` real micro-batches
    (a dir that already holds every slice feeds nothing). Streaming
    sources need a declared schema, so ts is declared as the footer
    stores it and reaches the caller through ``_events_ts``, as ``_t``
    serves it."""
    import functools

    import pyarrow.parquet as pq

    path = f"{sf_dir}/events.parquet"
    nanos = str(pq.read_schema(path).field("ts").type) == "timestamp[ns]"
    schema = (
        f"event_id long, ts {'long' if nanos else 'timestamp'}, user_id long, "
        "event_type string, value double, props string"
    )
    d, write_slice = caching.staged_slices(
        sf_dir, f"{tag}_slices_", lambda _: pq.read_table(path), n_slices
    )
    stream = _events_ts(spark.readStream.schema(schema).format("parquet").load(d))
    return stream, [functools.partial(write_slice, i) for i in range(1, n_slices)]


def _query_vectors_table(sf_dir: str):
    """The serving streams' query vectors (vec_id < 15) as a pyarrow
    Table in the serving schema ``(query_id, embedding)``, for
    ``caching.staged_slices``."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    return tbl.filter(pc.less(tbl["vec_id"], 15)).rename_columns(["query_id", "embedding"])


def invalidate_tables(path: str | None = None) -> int:
    """Drop memoized table plans (the cached plan snapshots the parquet
    file listing, so a directory rewritten mid-session — e.g. by
    ``compact_parquet`` or the CDC upsert sink — serves deleted-file
    errors or stale data until invalidated). ``path`` may be an sf dir
    or a single ``<table>.parquet`` path; None drops everything. Every
    cached query plan and every cache in ``operators.caching`` (the
    persisted frames and staged slices) is dropped regardless of
    ``path``. Returns the number of table and plan entries dropped."""
    import os

    dropped = 0
    for memo in list(_SESSION_MEMO.values()):
        for key in list(memo):
            if key == "pinned":
                continue
            if key[0] == "__plan__":
                # Plan-cache entries drop UNCONDITIONALLY: the session
                # caches below are released globally (their keys can't
                # be mapped back to paths), so a surviving cached query
                # plan would reference unpersisted frames forever —
                # recomputing its wide stages on every call with no way
                # to refill the memo. Plans are cheap to rebuild.
                del memo[key]
                dropped += 1
                continue
            sf_dir, name = key  # table entry: (sf_dir, table)
            if (
                path is None
                or os.path.abspath(sf_dir) == os.path.abspath(path)
                or os.path.abspath(f"{sf_dir}/{name}.parquet") == os.path.abspath(path)
            ):
                del memo[key]
                dropped += 1
    caching.release_all()
    return dropped


# ---------------------------------------------------------------------------
# T P C - H - s t y l e   r e l a t i o n a l   c o r e
# ---------------------------------------------------------------------------

@_q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(floor(sum(CAST(floor(l_quantity * 1000000 + 0.5) AS BIGINT))::DOUBLE / 1000000 * 10000 + 0.5) / 10000 AS DOUBLE) AS sum_qty,
           CAST(floor(sum(CAST(floor(l_extendedprice * 1000000 + 0.5) AS BIGINT))::DOUBLE / 1000000 * 10000 + 0.5) / 10000 AS DOUBLE) AS sum_base_price,
           CAST(floor(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000 + 0.5) AS BIGINT))::DOUBLE / 1000000 * 10000 + 0.5) / 10000 AS DOUBLE) AS sum_disc_price,
           CAST(floor(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000 + 0.5) AS BIGINT))::DOUBLE / 1000000 * 10000 + 0.5) / 10000 AS DOUBLE) AS sum_charge,
           floor(avg(l_quantity) * 10000 + 0.5) / 10000                     AS avg_qty,
           floor(avg(l_extendedprice) * 10000 + 0.5) / 10000                AS avg_price,
           floor(avg(l_discount) * 10000 + 0.5) / 10000                     AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1 pricing summary (SURVEY A2/A3 agg family).

    Scale: single shuffle on two low-cardinality keys; partial (map-side)
    aggregation makes the shuffle tiny regardless of input size.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # Order-independent money sums via integer micro-units (the
    # q111/q114 quantize-then-sum discipline, adopted after the r10
    # A/B measured it 0.64x the DECIMAL(28,10) cast path, BASELINE
    # §5y): each value quantizes to 1e-6 units with the repo's
    # half-up-via-floor idiom — EXACT here because the true values
    # carry <= 6 decimal digits (price 2dp, disc_price 4dp, charge
    # 6dp), so value*1e6 is an integer and the double's ~1e-12
    # relative error can never sit on the .5 boundary — and the longs
    # accumulate in DECIMAL(38,0) (exact, associative, long-backed
    # compact, no bigint overflow at any SF). Result independent of
    # row/partition order (BASELINE §7 round 8's requirement) without
    # a per-row BigDecimal materialization; both engines then
    # unquantize the SAME exact integer sum with identical IEEE ops.
    micro = lambda c: F.floor(c * 1_000_000 + F.lit(0.5)).cast("decimal(38,0)")
    unq = lambda c, name: (
        F.floor(F.sum(micro(c)).cast("double") / 1_000_000 * 10_000 + F.lit(0.5))
        / 10_000
    ).alias(name)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            unq(F.col("l_quantity"), "sum_qty"),
            unq(F.col("l_extendedprice"), "sum_base_price"),
            unq(disc_price, "sum_disc_price"),
            unq(disc_price * (1 + F.col("l_tax")), "sum_charge"),
            round_half_up(F.avg("l_quantity")).alias("avg_qty"),
            round_half_up(F.avg("l_extendedprice")).alias("avg_price"),
            round_half_up(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        # no final orderBy: the correctness compare is order-insensitive
        # and a global sort is a range-sampling job + exchange per run —
        # at scale you sort six result rows at the consumer, not in the
        # engine
    )


@_q(
    "q02_filter_multi",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem
    WHERE l_returnflag = 'R'
      AND l_linestatus IN ('F', 'O')
      AND l_quantity > 30
      AND nullif(l_discount, 0.0) IS NOT NULL
    """,
)
def q02_filter_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 multi-condition filter: eq + isin + callable + null-check,
    compiled to one Catalyst predicate (fully pushdown-eligible)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "disc_nn", F.nullif(F.col("l_discount"), F.lit(0.0))
    )
    out = filter_dataframe(
        li,
        {
            "l_returnflag": "R",
            "l_linestatus": ["F", "O"],
            "l_quantity": lambda c: c > 30,
            "disc_nn": lambda c: c.isNotNull(),
        },
        combine="and",
    )
    return out.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")


@_q(
    "q03_group_project_defaults",
    """
    SELECT o_orderpriority,
           count(*)                      AS n_rows,
           round(sum(o_totalprice), 4)   AS sum_total,
           floor(avg(o_totalprice) * 10000 + 0.5) / 10000 AS avg_total,
           max(o_orderdate)              AS max_date
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def q03_group_project_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: TableStore read with metadata defaults — group_keys default to
    table_keys minus filtered columns (filtering on o_orderstatus leaves
    o_orderpriority as the grouping key)."""
    store = TableStore(spark)
    store.write(
        "orders",
        _t(spark, sf_dir, "orders"),
        table_keys=["o_orderstatus", "o_orderpriority"],
    )
    return store.read(
        "orders",
        filter_dict={"o_orderstatus": "O"},
        out_option="groups",
        aggs={
            "n_rows": F.count(F.lit(1)),
            "sum_total": F.round(F.sum("o_totalprice"), 4),
            "avg_total": round_half_up(F.avg("o_totalprice")),
            "max_date": F.max("o_orderdate"),
        },
    )


@_q(
    "q04_union_align",
    """
    WITH u AS (
      SELECT l_orderkey, l_quantity, 'small' AS batch, l_discount AS disc, NULL::DOUBLE AS tax
      FROM lineitem WHERE l_quantity < 10
      UNION ALL BY NAME
      SELECT l_orderkey, l_quantity, 'large' AS batch, NULL::DOUBLE AS disc, l_tax AS tax
      FROM lineitem WHERE l_quantity >= 45
    )
    SELECT batch,
           count(*)                   AS n_rows,
           round(sum(l_quantity), 4)  AS sum_qty,
           count(disc)                AS n_disc,
           count(tax)                 AS n_tax
    FROM u GROUP BY batch
    """,
)
def q04_union_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: union with schema alignment — batches carry disjoint extra
    columns; missing columns NULL-fill. Zero-shuffle union."""
    li = _t(spark, sf_dir, "lineitem")
    small = (
        li.filter(F.col("l_quantity") < 10)
        .select("l_orderkey", "l_quantity", F.lit("small").alias("batch"), F.col("l_discount").alias("disc"))
    )
    large = (
        li.filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_quantity", F.lit("large").alias("batch"), F.col("l_tax").alias("tax"))
    )
    u = union_align([small, large])
    return u.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count("disc").alias("n_disc"),
        F.count("tax").alias("n_tax"),
    )


@_q(
    "q05_group_split_nullkeys",
    """
    SELECT nullif(c_mktsegment, 'BUILDING') AS seg,
           count(*)                 AS n_rows,
           round(sum(c_acctbal), 4) AS sum_bal
    FROM customer
    GROUP BY nullif(c_mktsegment, 'BUILDING')
    """,
)
def q05_group_split_nullkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: NULL-keeping group keys (pandas dropna=False semantics ==
    Spark/SQL default: the NULL group is a real group)."""
    cust = _t(spark, sf_dir, "customer").withColumn(
        "seg", F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    )
    return cust.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("c_acctbal"), 4).alias("sum_bal"),
    )


@_q(
    "q06_label_enrich_join",
    """
    SELECT coalesce(n.n_name, 'UNKNOWN') AS label,
           count(*)                      AS n_customers,
           round(sum(c.c_acctbal), 4)    AS sum_bal
    FROM customer c
    LEFT JOIN (SELECT * FROM nation WHERE n_regionkey < 3) n
      ON c.c_nationkey = n.n_nationkey
    GROUP BY coalesce(n.n_name, 'UNKNOWN')
    """,
)
def q06_label_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: label enrichment = broadcast left join + coalesce default
    (the reference's dict.get(name, default)). Fact side never shuffles."""
    cust = _t(spark, sf_dir, "customer")
    dim = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") < 3)
        .select(F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("label"))
    )
    out = enrich_labels(cust, dim, on="c_nationkey", label_col="label", default_value="UNKNOWN")
    return out.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 4).alias("sum_bal"),
    )


@_q(
    "q07_result_merge",
    """
    SELECT concat('u', user_id)          AS file,
           max(CAST(floor(value) AS BIGINT)) AS max_lines,
           CAST(sum(event_id) AS BIGINT) AS sum_words,
           CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_chars,
           arg_min(event_type, ts)       AS first_lang,
           string_agg(event_type, ',' ORDER BY event_type) AS statuses,
           max(ts)                       AS last_ts
    FROM events
    GROUP BY concat('u', user_id)
    """,
)
def q07_result_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: per-file execution-record merge (max/sum/sum/first-by-time/
    sorted list/max) over an events-derived results table.

    The sorted status list is flattened with array_join for the oracle
    compare — the driver's canonicalizer cannot sort collection-typed
    columns (round-1 q07 err).

    The 'u<id>' file label is a bijection of the long user_id, so both
    aggregation stages group on the LONG and the label is built once
    per output row afterwards: the shuffle carries 8-byte keys instead
    of strings and the group-key hash/compare stays primitive — at the
    100 TB target the key bytes dominate this exchange."""
    ev = _t(spark, sf_dir, "events")
    results = ev.select(
        F.col("user_id").alias("file"),
        F.floor("value").cast("bigint").alias("lines"),
        F.col("event_id").alias("words"),
        F.floor("value").cast("bigint").alias("chars"),
        F.col("event_type").alias("lang"),
        F.col("event_type").alias("status"),
        F.col("ts").alias("timestamp"),
    )
    return (
        merge_results(results)
        .withColumn("file", F.concat(F.lit("u"), F.col("file")))
        .withColumn("statuses", F.array_join("statuses", ","))
    )


@_q(
    "q08_selector_language",
    """
    SELECT p_brand, count(*) AS n_parts, round(sum(p_retailprice), 4) AS sum_price
    FROM part
    WHERE regexp_matches(p_type, '^(ECONOMY|STANDARD)')
      AND contains(p_name, 'e')
      AND regexp_matches(p_brand, '^Brand#1.$')
      AND p_size IN (5, 10, 15, 20)
    GROUP BY p_brand
    """,
)
def q08_selector_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 selector mini-language: re:/in:/glob/membership selectors
    compiled to one Catalyst predicate."""
    part = _t(spark, sf_dir, "part")
    out = select_records(
        part,
        {
            "p_type": "re:^(ECONOMY|STANDARD)",
            "p_name": "in:e",
            "p_brand": "Brand#1?",  # glob
            "p_size": [5, 10, 15, 20],
        },
    )
    return out.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.round(F.sum("p_retailprice"), 4).alias("sum_price"),
    )


@_q(
    "q09_topk_orders",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q09_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O: top-k with deterministic tie-break. Spark runs this as
    TakeOrderedAndProject — per-partition heaps, no full sort."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("total"))
    )


@_q(
    "q10_latest_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_orderdate
    FROM orders
    QUALIFY row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
)
def q10_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 window surface: latest row per key via row_number (the
    standard top-1-per-group; one shuffle on the partition key)."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


@_q(
    "q11_distinct_flags",
    """
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
)
def q11_distinct_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 distinct (partial-agg dedup before shuffle)."""
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@_q(
    "q12_set_ops",
    """
    WITH rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
         with_orders AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders)
    SELECT 'both' AS tag, c_custkey FROM (SELECT c_custkey FROM rich INTERSECT SELECT c_custkey FROM with_orders)
    UNION ALL
    SELECT 'rich_only' AS tag, c_custkey FROM (SELECT c_custkey FROM rich EXCEPT SELECT c_custkey FROM with_orders)
    """,
)
def q12_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 intersect/except (generalization the reference lacks)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    both = intersect_keys(cust, orders, ["c_custkey"]).select(F.lit("both").alias("tag"), "c_custkey")
    rich_only = except_keys(cust, orders, ["c_custkey"]).select(F.lit("rich_only").alias("tag"), "c_custkey")
    return union_align([both, rich_only])


@_q(
    "q13_scalar_functions",
    """
    SELECT p_partkey,
           upper(p_brand)                                   AS brand_u,
           substr(p_type, 1, 6)                             AS type6,
           concat_ws('|', p_brand, CAST(p_size AS VARCHAR)) AS brand_size,
           round(p_retailprice * 1.1, 2)                    AS marked_up,
           length(p_name)                                   AS name_len,
           md5(p_name)                                      AS name_md5
    FROM part WHERE p_partkey <= 200
    """,
)
def q13_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 scalar family: string/math/hash functions, JVM-side."""
    return (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_partkey") <= 200)
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_u"),
            F.substring("p_type", 1, 6).alias("type6"),
            F.concat_ws("|", F.col("p_brand"), F.col("p_size").cast("string")).alias("brand_size"),
            F.round(F.col("p_retailprice") * 1.1, 2).alias("marked_up"),
            F.length("p_name").alias("name_len"),
            F.md5("p_name").alias("name_md5"),
        )
    )


@_q(
    "q14_json_extract",
    """
    SELECT event_type,
           count(*)                 AS n_events,
           CAST(sum(TRY_CAST(regexp_extract(props, '"k"\\s*:\\s*(-?\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
           max(TRY_CAST(regexp_extract(props, '"k"\\s*:\\s*(-?\\d+)', 1) AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q14_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 JSON family: extract a field from a JSON-string column and
    aggregate. (Regex form keeps the oracle engine-portable; Spark's
    get_json_object compiles to the same result.)"""
    ev = _t(spark, sf_dir, "events").withColumn(
        "k", F.regexp_extract(F.col("props"), r'"k"\s*:\s*(-?\d+)', 1).cast("bigint")
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
    )


@_q(
    "q15_path_hierarchy",
    """
    WITH files AS (
      SELECT doc_id,
             concat('corpus/', lang, '/', source, '/doc_', doc_id, '.txt') AS path
      FROM documents
    )
    SELECT string_split(path, '/')[2] AS level0,
           string_split(path, '/')[3] AS level1,
           count(*)                   AS n_files,
           count(DISTINCT string_split(path, '/')[4]) AS n_names
    FROM files
    GROUP BY 1, 2
    """,
)
def q15_path_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2/§4a: path-hierarchy levels as columns; per-directory rollup =
    groupBy(level0..levelK) — the scalable rewrite of on-dir-exit
    accumulation."""
    docs = _t(spark, sf_dir, "documents")
    files = docs.select(
        "doc_id",
        F.concat(
            F.lit("corpus/"), F.col("lang"), F.lit("/"), F.col("source"),
            F.lit("/doc_"), F.col("doc_id"), F.lit(".txt"),
        ).alias("path"),
    )
    parts = F.split(F.col("path"), "/")
    return (
        files.withColumn("level0", F.element_at(parts, 2))
        .withColumn("level1", F.element_at(parts, 3))
        .withColumn("name", F.element_at(parts, 4))
        .groupBy("level0", "level1")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.countDistinct("name").alias("n_names"),
        )
    )
