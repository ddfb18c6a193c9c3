"""Query catalog part 8 (q110+): distribution analytics, importance
sampling, passage-level dedup, and multi-criteria selection.

Each oracle-checked against DuckDB on the shared parquet tables:

- q110 equi-width histogram (global min/max bounds broadcast back over
  the scan — the two-pass profile every column profiler runs)
- q111 DSIR-style importance weights (hashed unigram bag-model
  log-likelihood ratio target-vs-raw, quantized to integer micro-units
  BEFORE the per-document sum so the cross-engine aggregation is exact
  integer arithmetic — the data-selection pass of arXiv:2302.03169)
- q112 passage-level exact dedup (fixed 8-word blocks, order-preserving
  reassembly, cross-document duplicate detection — the span-granular
  complement to document-level q17/q18)
- q113 skyline / Pareto frontier (price↓ size↑ dominance) via a
  bucketed prefix-max rewrite — no all-pairs join, no global window
- q114 time-weighted average (value held until next event, exact
  microsecond weights)
- q115 burst dedup (drop events closer than a threshold to their
  predecessor in the same (user, type) stream — the rate-limiting /
  debounce pass)
- q116 grouped linear regression (per-type OLS slope/intercept/r² from
  exact integer moment sums; the final double arithmetic is the same
  expression text in both engines)
- q117 prefix-filtering set-similarity self-join (AllPairs/PPJoin
  shape: candidates only from each doc's globally-rarest prefix
  tokens; verification map-side via carried arrays; oracle is the
  independent brute-force formulation)
- q118 robust outliers via median/MAD modified z-score
  (Iglewicz-Hoaglin — the quantile complement to q107's mean/stddev)
- q119 key-skew diagnostic profile (top-k mass + exact-integer
  entropy — the report you run before deciding broadcast vs salt vs
  AQE skew-split on a 100 TB join)
- q120 Gini concentration of key mass (rides the q89 two-phase
  distributed ranker instead of an unpartitioned window; exact-integer
  Σrank·count)
- q121 last-touch attribution (struct-max over an exact-microsecond
  RANGE frame — purchases credited to the most recent non-purchase
  event in the preceding hour, ties broken identically in both engines)
- q122 event-path mining (first-5-steps journey strings from sorted
  collect_list, top-20 via TakeOrdered)
- q123 co-occurrence PMI between event types over (user, hour)
  contexts — the corpus-statistics primitive behind co-occurrence
  embeddings / market-basket lift
- q124 per-source KL divergence from the corpus unigram distribution
  (full smoothed 1024-bucket support, nano-quantized terms — the
  corpus-drift / source-mix diagnostic)
- q125 inverted-index build (token → ordered posting list, md5
  fingerprint pins every element and its order; chunked-postings note
  for hot-key scale)
- q126 chi-square independence test (event type × hour contingency
  incl. zero-observation cells — the categorical complement to q116's
  regression)

No reference parity claimed — these extend the engine beyond the
reference surface; the brief names the training-data-pipeline family
first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from batch_process_spark.operators import joins
from batch_process_spark.operators.caching import memoized_persist
from batch_process_spark.queries import _q, _t

# ---------------------------------------------------------------------------
# q110 — equi-width histogram

_N_BINS = 20


@_q(
    "q110_price_histogram",
    f"""
    WITH b AS (
      SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      FROM lineitem
    )
    SELECT least({_N_BINS - 1},
                 CAST(floor((l_extendedprice - lo) / ((hi - lo) / {_N_BINS}.0))
                      AS BIGINT)) AS bin,
           count(*) AS n_rows,
           round(sum(l_extendedprice), 2) AS mass,
           round(min(l_extendedprice), 2) AS lo_price,
           round(max(l_extendedprice), 2) AS hi_price
    FROM lineitem, b
    GROUP BY 1
    """,
)
def q110_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram with data-derived bounds: a 1-row global
    min/max aggregate broadcast back over the scan (two passes, both
    map-side until the 20-group agg), then identical double math on
    both engines so bin edges agree bit-for-bit. At 100 TB both passes
    stay embarrassingly parallel; the only wide stage is the 20-row
    final agg."""
    li = _t(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(float(_N_BINS))
    bin_col = F.least(
        F.lit(_N_BINS - 1),
        F.floor((F.col("l_extendedprice") - F.col("lo")) / width),
    ).cast("long")
    return (
        li.crossJoin(F.broadcast(bounds))
        .groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_extendedprice"), 2).alias("mass"),
            F.round(F.min("l_extendedprice"), 2).alias("lo_price"),
            F.round(F.max("l_extendedprice"), 2).alias("hi_price"),
        )
    )


# ---------------------------------------------------------------------------
# q111 — DSIR-style hashed-unigram importance weights

_DSIR_BUCKETS = 1024
_DSIR_TOP = 50


def _dsir_bucket(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % _DSIR_BUCKETS


def _dsir_duck_bucket(expr: str) -> str:
    return f"(CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT) % {_DSIR_BUCKETS})"


@_q(
    "q111_dsir_importance",
    f"""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    tb AS (
      SELECT doc_id, lang, {_dsir_duck_bucket("word")} AS bucket
      FROM tok WHERE word != ''
    ),
    cnt AS (
      SELECT bucket,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t_cnt,
             sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS r_cnt
      FROM tb GROUP BY bucket
    ),
    tot AS (SELECT sum(t_cnt) AS t_tot, sum(r_cnt) AS r_tot FROM cnt),
    w AS (
      SELECT bucket,
             CAST(floor((ln((t_cnt + 1.0) / (t_tot + {_DSIR_BUCKETS}.0))
                         - ln((r_cnt + 1.0) / (r_tot + {_DSIR_BUCKETS}.0)))
                        * 1000000.0 + 0.5) AS BIGINT) AS w_micro
      FROM cnt, tot
    )
    SELECT doc_id, CAST(sum(w_micro) AS BIGINT) AS score_micro,
           count(*) AS n_tokens
    FROM tb JOIN w USING (bucket)
    GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id ASC
    LIMIT {_DSIR_TOP}
    """,
)
def q111_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-shaped data selection: hashed unigram bag models for a
    target slice (lang='en') vs the raw rest, per-bucket add-one
    log-likelihood-ratio weights, per-document scores, top-N.

    Determinism: the only transcendental (ln) runs once per BUCKET
    (<=1024 calls), and its result is quantized to integer micro-units
    before the per-document sum — so the million-term aggregation is
    exact integer arithmetic in both engines, immune to summation
    order. The weight table is <=1024 rows → broadcast; the heavy side
    (exploded tokens) never shuffles until the per-doc agg, which has
    map-side partial aggregation. Top-N is TakeOrdered, not a global
    sort."""
    docs = _t(spark, sf_dir, "documents")
    tb = (
        docs.select(
            "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .select("doc_id", "lang", _dsir_bucket(F.col("word")).alias("bucket"))
    )
    cnt = tb.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("t_cnt"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).alias("r_cnt"),
    )
    tot = cnt.agg(F.sum("t_cnt").alias("t_tot"), F.sum("r_cnt").alias("r_tot"))
    nb = float(_DSIR_BUCKETS)
    w_micro = F.floor(
        (
            F.log((F.col("t_cnt") + 1.0) / (F.col("t_tot") + nb))
            - F.log((F.col("r_cnt") + 1.0) / (F.col("r_tot") + nb))
        )
        * 1000000.0
        + 0.5
    ).cast("long")
    weights = cnt.crossJoin(F.broadcast(tot)).select(
        "bucket", w_micro.alias("w_micro")
    )
    return (
        tb.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("w_micro").alias("score_micro"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(_DSIR_TOP)
    )


# ---------------------------------------------------------------------------
# q112 — passage-level exact dedup (8-word blocks)

_BLOCK_WORDS = 8


@_q(
    "q112_passage_dedup",
    f"""
    WITH w AS (
      SELECT doc_id,
             unnest(ws) AS word,
             unnest(range(1, len(ws) + 1)) AS pos
      FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    ),
    w2 AS (
      SELECT doc_id, word,
             row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS widx
      FROM w WHERE word != ''
    ),
    blk AS (
      SELECT doc_id, (widx - 1) // {_BLOCK_WORDS} AS blk,
             string_agg(word, ' ' ORDER BY widx) AS passage,
             count(*) AS n
      FROM w2 GROUP BY doc_id, (widx - 1) // {_BLOCK_WORDS}
    )
    SELECT md5(passage) AS passage_hash,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM blk
    WHERE n = {_BLOCK_WORDS}
    GROUP BY md5(passage)
    HAVING count(DISTINCT doc_id) > 1
    """,
)
def q112_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-granular exact dedup: split every document into blocks of
    8 consecutive non-empty words, hash each full block, report
    passages that appear in more than one document — the passage-level
    contamination/copy detector that document-level dedup (q17) misses.

    Non-vacuous on the testdata (135 cross-doc duplicate passages at
    sf0.01 — the planted near-dup documents share 8-word spans). Scale
    shape: blocks are assembled INSIDE the row with array expressions
    (filter/slice/array_join over the split — no token explode, no
    reassembly shuffle; the oracle's window+string_agg is the same
    semantics stated relationally). The only wide stage is the
    passage-hash aggregate, whose key is high-cardinality and
    skew-free, with map-side partials."""
    docs = _t(spark, sf_dir, "documents")
    arr = F.filter(F.split("text", " "), lambda w: w != "")
    n_blocks = F.floor(F.size(arr) / _BLOCK_WORDS).cast("int")
    blocks = F.when(
        n_blocks > 0,
        F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda i: F.array_join(
                F.slice(arr, (i * _BLOCK_WORDS + 1).cast("int"), _BLOCK_WORDS),
                " ",
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select("doc_id", F.explode(blocks).alias("passage"))
        .groupBy(F.md5("passage").alias("passage_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# q113 — skyline (Pareto frontier) via bucketed prefix-max

_SKY_BUCKETS = 32


@_q(
    "q113_skyline_parts",
    """
    WITH p AS (
      SELECT DISTINCT p_retailprice AS price, p_size AS size FROM part
    )
    SELECT round(price, 2) AS price, size
    FROM p a
    WHERE NOT EXISTS (
      SELECT 1 FROM p b
      WHERE b.price <= a.price AND b.size >= a.size
        AND (b.price < a.price OR b.size > a.size)
    )
    """,
)
def q113_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts (minimize price, maximize size): a part
    survives iff no other part is at-most-as-expensive AND
    at-least-as-large with one strict. The oracle states dominance
    directly (NOT EXISTS — an independent formulation, so this is a
    cross-algorithm check, not the same code twice).

    The Spark side is the SCALABLE rewrite: range-bucket the distinct
    (price, size) pairs by price, per-bucket max size, a prefix-max
    over the tiny bucket table (<=32 rows — the only single-partition
    window, on 32 rows), broadcast it back, and resolve within-bucket
    dominance with a window PARTITIONED BY bucket. No all-pairs join,
    no global-order window — at 100 TB every stage is either map-side
    or partitioned by a high-cardinality key."""
    pairs = (
        _t(spark, sf_dir, "part")
        .select(
            F.col("p_retailprice").alias("price"), F.col("p_size").alias("size")
        )
        .distinct()
    )
    bounds = pairs.agg(F.min("price").alias("lo"), F.max("price").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / F.lit(float(_SKY_BUCKETS))
    bkt = F.least(
        F.lit(_SKY_BUCKETS - 1), F.floor((F.col("price") - F.col("lo")) / width)
    ).cast("long")
    pb = pairs.crossJoin(F.broadcast(bounds)).select(
        "price", "size", bkt.alias("bkt")
    )
    # Per-bucket max size, then running max over PRECEDING buckets.
    # 32 rows: the unpartitioned window is deliberate and bounded.
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    prefix = (
        pb.groupBy("bkt")
        .agg(F.max("size").alias("bmax"))
        .select("bkt", F.max("bmax").over(wb).alias("prev_max"))
    )
    # Within a bucket: earlier rows under (price ASC, size DESC) are
    # exactly the candidate dominators (strictly cheaper, or same price
    # with strictly larger size — distinct pairs make ties impossible).
    wl = Window.partitionBy("bkt").orderBy(
        F.asc("price"), F.desc("size")
    ).rowsBetween(Window.unboundedPreceding, -1)
    return (
        pb.join(F.broadcast(prefix), "bkt")
        .withColumn("lmax", F.max("size").over(wl))
        .filter(
            (F.col("lmax").isNull() | (F.col("size") > F.col("lmax")))
            & (F.col("prev_max").isNull() | (F.col("size") > F.col("prev_max")))
        )
        .select(F.round("price", 2).alias("price"), "size")
    )


# ---------------------------------------------------------------------------
# q114 — time-weighted average value per event type

@_q(
    "q114_time_weighted_value",
    """
    WITH s AS (
      SELECT event_type, value,
             epoch_us(ts) AS t_us,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS nxt_us
      FROM events
    ),
    iv AS (
      SELECT event_type,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v_cents,
             nxt_us - t_us AS dt_us
      FROM s WHERE nxt_us IS NOT NULL
    )
    SELECT event_type,
           count(*) AS n_intervals,
           round(CAST(sum(v_cents * dt_us) AS DOUBLE)
                 / CAST(sum(dt_us) AS DOUBLE) / 100.0, 6) AS twa_value
    FROM iv
    GROUP BY event_type
    """,
)
def q114_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average: each event's value holds until the user's
    next event; the weight is the exact microsecond gap. Quantizing
    value to integer cents makes the big sums exact integer arithmetic
    (order-independent across engines); only the final division is
    floating point, on identical inputs. One window shuffle on user_id
    (high-cardinality), one 5-group agg with map-side partials."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("v_cents"),
        (F.lead(F.unix_micros("ts")).over(w) - F.unix_micros("ts")).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(
            F.sum(F.col("v_cents") * F.col("dt_us")).cast("double")
            / F.sum("dt_us").cast("double")
            / 100.0,
            6,
        ).alias("twa_value"),
    )


# ---------------------------------------------------------------------------
# q115 — burst dedup (debounce): drop events within the threshold of
# their predecessor in the same (user, type) stream

_BURST_GAP_US = 3_600_000_000  # 1 hour


@_q(
    "q115_burst_dedup",
    f"""
    WITH s AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           count(*) AS n_total,
           CAST(sum(CASE WHEN gap_us IS NULL OR gap_us >= {_BURST_GAP_US}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(floor(sum(CASE WHEN gap_us IS NULL OR gap_us >= {_BURST_GAP_US}
                               THEN 1 ELSE 0 END) * 10000.0 / count(*))
                AS BIGINT) AS keep_bp
    FROM s
    GROUP BY event_type
    """,
)
def q115_burst_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce / rate-limit pass: an event is kept iff it is the first
    of its (user, type) stream or at least one hour after its
    predecessor — the standard duplicate-ping suppressor ahead of
    sessionization. Exact microsecond gaps; the kept/total ratio is
    reported in integer basis points. One window shuffle on the
    composite key (high-cardinality), then a tiny agg. The streaming
    twin is stream_dedup / dropDuplicatesWithinWatermark
    (streaming/windows.py) — this is the batch backfill shape."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    kept = F.when(gap.isNull() | (gap >= _BURST_GAP_US), 1).otherwise(0)
    return (
        ev.select("event_type", kept.alias("kept"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum("kept").alias("n_kept"),
            F.floor(F.sum("kept") * 10000.0 / F.count(F.lit(1)))
            .cast("long")
            .alias("keep_bp"),
        )
    )


# ---------------------------------------------------------------------------
# q116 — grouped OLS regression from exact integer moments

_EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z, keeps x small


@_q(
    "q116_group_regression",
    f"""
    WITH s AS (
      SELECT event_type,
             epoch_us(ts) // 1000000 - {_EPOCH_2024} AS x,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS y
      FROM events
    ),
    m AS (
      SELECT event_type,
             count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
      FROM s GROUP BY event_type
    )
    SELECT event_type, n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                 / 100.0, 9) AS slope,
           round((CAST(sy AS DOUBLE)
                  - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                    / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sx)
                 / n / 100.0, 6) AS intercept,
           round(pow(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy, 2)
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 6) AS r2
    FROM m
    """,
)
def q116_group_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS (value vs seconds-since-2024): the moment sums are
    EXACT integer aggregates (x in small epoch-offset seconds, y in
    cents), so the distributed part is order-independent; the closed-
    form slope/intercept/r² double math is the same expression text in
    both engines on identical inputs. This is the scalable regression
    shape — one map-side-combinable agg, no per-group iteration, no
    collect — vs calling a stats library per group."""
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        (F.floor(F.unix_micros("ts") / 1_000_000) - _EPOCH_2024).alias("x"),
        F.floor(F.col("value") * 100.0 + 0.5).cast("long").alias("y"),
    )
    m = s.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = nd * F.col("sxy") - sxd * F.col("sy")
    den = nd * F.col("sxx") - sxd * F.col("sx")
    deny = nd * F.col("syy") - syd * F.col("sy")
    slope = num / den
    return m.select(
        "event_type",
        "n",
        F.round(slope / 100.0, 9).alias("slope"),
        F.round((syd - slope * F.col("sx")) / F.col("n") / 100.0, 6).alias(
            "intercept"
        ),
        F.round(F.pow(num, 2) / (den * deny), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q117 — prefix-filtering similarity self-join (AllPairs/PPJoin shape)

_PF_THRESHOLD = 0.95
# Exact rational form of the threshold for the PPJoin LENGTH filter:
# J(A,B) >= t implies min(|A|,|B|) >= t * max(|A|,|B|) (since
# |A∩B| <= min and |A∪B| >= max). Checked in INTEGER arithmetic
# (min*den >= num*max) so the t=0.95 boundary — reachable, e.g.
# A ⊂ B with |A|=19, |B|=20, J exactly 19/20 — never falls to a
# float rounding error.
_PF_NUM, _PF_DEN = (
    __import__("fractions").Fraction(str(_PF_THRESHOLD)).as_integer_ratio()
)


@_q(
    "q117_prefix_filter_join",
    f"""
    WITH t AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    t2 AS (SELECT * FROM t WHERE tok != ''),
    sz AS (SELECT doc_id, count(*) AS n FROM t2 GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS c
      FROM t2 a JOIN t2 b USING (tok)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i AS doc_i, j AS doc_j,
           round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS jaccard_sim
    FROM common
    JOIN sz sa ON i = sa.doc_id
    JOIN sz sb ON j = sb.doc_id
    WHERE CAST(c AS DOUBLE) / (sa.n + sb.n - c) >= {_PF_THRESHOLD}
    """,
)
def q117_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join with PREFIX FILTERING (the AllPairs /
    PPJoin family): documents as distinct-token sets, candidate pairs
    generated only from each document's prefix — its (n - ceil(t*n) + 1)
    globally-rarest tokens — because two sets with Jaccard >= t MUST
    share a prefix token (|∩| >= t*n_a when J >= t). Verification
    carries each side's token array into the candidate pair and
    computes the intersection map-side (array_intersect) — no second
    token-granularity join.

    The oracle is the INDEPENDENT brute-force formulation (full token
    join, no prefix filter) — a cross-algorithm check. Scale shape:
    the token-frequency rank is over the VOCABULARY (log-scale smaller
    than the corpus; the q89 distributed ranker is the path if it ever
    outgrows one partition), prefixes shrink the candidate join
    quadratically on realistic Zipfian vocabularies, and the arrays
    carried into candidates are single-document-sized."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.array_sort(
        F.array_distinct(F.filter(F.split("text", " "), lambda w: w != ""))
    )
    a = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") > 0)

    # Global document-frequency rank, rarest first (vocabulary-sized).
    freq = (
        a.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    wr = Window.orderBy(F.asc("df"), F.asc("tok"))
    ranked = freq.select("tok", F.row_number().over(wr).alias("rk"))

    # Per-document prefix: the first (n - ceil(t*n) + 1) rarest tokens.
    wd = Window.partitionBy("doc_id").orderBy("rk")
    k = (
        F.col("n")
        - F.ceil(F.lit(_PF_THRESHOLD) * F.col("n"))
        + 1
    )
    prefix = (
        a.select("doc_id", F.size("toks").alias("n"), F.explode("toks").alias("tok"))
        # the rank table is VOCABULARY-sized (Heaps-sublinear but still
        # corpus-growing) — stats-gated, shuffles on `tok` at scale
        .join(joins.gated_broadcast(ranked), "tok")
        .withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= k)
        # rn (the token's 1-based position in the doc's full
        # rarity-sorted list) rides into the join for the PPJoin
        # POSITION filter below
        .select("doc_id", "n", "tok", "rn")
    )
    # The candidate self-join fans out QUADRATICALLY per token while
    # its input is a few KB, so AQE (which coalesces by shuffle BYTES)
    # collapses the whole enumerate+distinct+verify pipeline into ONE
    # task (measured: 90-126 s single-task, 125 s CPU, at sf0.1 on a
    # 31-token vocabulary where the hottest prefix token appears in
    # 3,789 documents). Spread the probe side over the session's cores
    # with an explicit-width repartition — REPARTITION_BY_NUM is
    # exempt from AQE coalescing; the width tracks the CLUSTER (total
    # cores), not the data, because the fan-out is pure probe CPU
    # against a broadcast/hash build.
    par = spark.sparkContext.defaultParallelism
    # keyed on (doc_id, tok), NOT doc_id alone: the prefix window's own
    # ENSURE_REQUIREMENTS exchange already clusters by doc_id, so a
    # doc_id-keyed repartition is optimized away and the enumeration
    # stage stays behind an AQE-coalescible exchange; the composite key
    # forces a real REPARTITION_BY_NUM exchange (a few KB) that pins
    # the enumeration width. ASSUMPTION (ADVICE r13): this pin only
    # spreads the probe while the pb side is BROADCAST (the prefix
    # frame is (doc_id, n, tok) rows — a few bytes per doc — far under
    # the session auto-broadcast threshold at any measured sf); if pb
    # ever outgrew it, the tok-equi join would insert its own tok-hash
    # exchanges on both sides and this repartition would become one
    # wasted extra shuffle — acceptable (one small exchange), not a
    # correctness or blow-up risk.
    pa = prefix.repartition(par, "doc_id", "tok").alias("pa")
    cand = (
        pa.join(
            prefix.alias("pb"),
            (F.col("pa.tok") == F.col("pb.tok"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id"))
            # PPJoin LENGTH filter (lossless, see _PF_NUM/_PF_DEN):
            # J >= t is impossible unless min(n)*den >= num*max(n) —
            # drops size-incompatible pairs inside the join probe,
            # before the distinct and the array-carrying verify
            # (measured 9.74M -> 2.14M candidates at sf0.1, result
            # rows byte-identical).
            & (
                F.least("pa.n", "pb.n") * _PF_DEN
                >= F.greatest("pa.n", "pb.n") * _PF_NUM
            )
            # PPJoin POSITION filter (r14, lossless): tokens at
            # positions >= rn (1-based, rarity order shared by both
            # docs) number n - rn + 1 per side, so the intersection is
            # at most min(na - ia, nb - jb) + 1 — and J >= t needs
            # inter*(den+num) >= num*(na+nb) (inter >= t/(1+t)*union
            # bound, exact integers). A qualifying pair always
            # survives via its FIRST common token: that token sits
            # inside both prefixes (the prefix-filter completeness
            # argument) and its positions realize the tightest bound
            # >= the true intersection. Measured at sf0.1: candidate
            # rows 3.43M -> 1.81M, verify pairs 2.14M -> 1.81M,
            # result rows byte-identical.
            & (
                (
                    F.least(
                        F.col("pa.n") - F.col("pa.rn"),
                        F.col("pb.n") - F.col("pb.rn"),
                    )
                    + 1
                )
                * (_PF_DEN + _PF_NUM)
                >= _PF_NUM * (F.col("pa.n") + F.col("pb.n"))
            ),
        )
        .select(
            F.col("pa.doc_id").alias("doc_i"), F.col("pb.doc_id").alias("doc_j")
        )
        # explicit-width exchange for the same AQE-blindness reason:
        # the verify stage downstream computes an array intersection
        # per pair — per-row CPU that byte-based coalescing cannot
        # see. hashpartitioning(doc_i, doc_j, par) already satisfies
        # the distinct's clustering, so this adds no extra exchange.
        .repartition(par, "doc_i", "doc_j")
        .distinct()
    )
    sa = a.select(F.col("doc_id").alias("doc_i"), F.col("toks").alias("toks_i"))
    sb = a.select(F.col("doc_id").alias("doc_j"), F.col("toks").alias("toks_j"))
    inter = F.size(F.array_intersect("toks_i", "toks_j"))
    union = F.size("toks_i") + F.size("toks_j") - inter
    jac = inter.cast("double") / union
    return (
        cand.join(sa, "doc_i")
        .join(sb, "doc_j")
        .filter(jac >= _PF_THRESHOLD)
        .select("doc_i", "doc_j", F.round(jac, 6).alias("jaccard_sim"))
    )


# ---------------------------------------------------------------------------
# q118 — robust outliers via median / MAD (modified z-score)

@_q(
    "q118_mad_outliers",
    """
    WITH m AS (
      SELECT event_type,
             floor(quantile_cont(value, 0.5) * 10000 + 0.5) / 10000 AS med
      FROM events GROUP BY event_type
    ),
    d AS (
      SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
      FROM events e JOIN m USING (event_type)
    ),
    md AS (
      SELECT event_type,
             floor(quantile_cont(dev, 0.5) * 10000 + 0.5) / 10000 AS mad
      FROM d GROUP BY event_type
    )
    SELECT d.event_type,
           count(*) AS n,
           min(d.med) AS med,
           min(md.mad) AS mad,
           CAST(sum(CASE WHEN 0.6745 * d.dev > 3.5 * md.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM d JOIN md USING (event_type)
    GROUP BY d.event_type
    """,
)
def q118_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: modified z-score 0.6745*|x - median| /
    MAD > 3.5 (Iglewicz-Hoaglin), immune to the outliers themselves —
    the complement to q107's mean/stddev z-scores. Median and MAD are
    quantized to 4 decimals BEFORE the threshold compare, and the
    compare is multiplication-only (no division — MAD=0 would be
    inf-vs-NULL across engines), so the flag is deterministic.
    Two exact-percentile passes with 5-row broadcast joins back; the
    deviation frame is persisted (plan-keyed memo) so the MAD pass and
    the final aggregate do not each re-scan events. At 100 TB swap
    percentile for approx_percentile (exact needs the per-group sort)
    — the flag math is unchanged."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        (F.floor(F.expr("percentile(value, 0.5)") * 10000 + F.lit(0.5)) / 10000)
        .alias("med")
    )
    d = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    d = memoized_persist(d)
    mad = d.groupBy("event_type").agg(
        (F.floor(F.expr("percentile(dev, 0.5)") * 10000 + F.lit(0.5)) / 10000)
        .alias("mad")
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(0.6745 * F.col("dev") > 3.5 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# q119 — key-skew diagnostic profile (the "is this join safe" report)

@_q(
    "q119_skew_profile",
    """
    WITH c AS (
      SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey
    ),
    s AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
             count(*) AS n_keys,
             CAST(max(cnt) AS BIGINT) AS top1,
             CAST(sum(CAST(floor(cnt * ln(cnt) * 1000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS clnc_micro
      FROM c
    ),
    t10 AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS top10
      FROM (SELECT cnt FROM c ORDER BY cnt DESC, l_partkey ASC LIMIT 10)
    )
    SELECT n_rows, n_keys,
           CAST(floor(top1 * 10000.0 / n_rows) AS BIGINT) AS top1_bp,
           CAST(floor(top10 * 10000.0 / n_rows) AS BIGINT) AS top10_bp,
           round(ln(n_rows) - (clnc_micro / 1000000.0) / n_rows, 6) AS entropy
    FROM s, t10
    """,
)
def q119_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution diagnostic for join planning: row/key counts,
    top-1 and top-10 key mass in basis points, and the Shannon entropy
    of the key distribution (H = ln N - (1/N)·Σ c·ln c — the
    decomposition needs no per-key N, so one pass over the count
    table). The per-key c·ln(c) term is quantized to integer
    micro-units before summation — exact integer aggregation across
    engines. This is the profile you run BEFORE a 100 TB join to
    decide broadcast vs salt vs AQE skew-split; top-10 is TakeOrdered,
    everything else partial-aggregates."""
    li = _t(spark, sf_dir, "lineitem")
    c = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    s = c.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("top1"),
        F.sum(
            F.floor(F.col("cnt") * F.log("cnt") * 1000000.0 + F.lit(0.5)).cast(
                "long"
            )
        ).alias("clnc_micro"),
    )
    t10 = (
        c.orderBy(F.desc("cnt"), F.asc("l_partkey"))
        .limit(10)
        .agg(F.sum("cnt").alias("top10"))
    )
    return s.crossJoin(t10).select(
        "n_rows",
        "n_keys",
        F.floor(F.col("top1") * 10000.0 / F.col("n_rows"))
        .cast("long")
        .alias("top1_bp"),
        F.floor(F.col("top10") * 10000.0 / F.col("n_rows"))
        .cast("long")
        .alias("top10_bp"),
        F.round(
            F.log("n_rows") - (F.col("clnc_micro") / 1000000.0) / F.col("n_rows"),
            6,
        ).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# q120 — Gini concentration of the key distribution (rides the q89
# distributed ranker — no single-task window)

@_q(
    "q120_gini_concentration",
    """
    WITH c AS (
      SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey
    ),
    r AS (
      SELECT cnt,
             row_number() OVER (ORDER BY cnt ASC, l_partkey ASC) AS rn
      FROM c
    ),
    m AS (
      SELECT CAST(sum(rn * cnt) AS BIGINT) AS s_rc,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             count(*) AS n_keys
      FROM r
    )
    SELECT n_keys, n_rows,
           round(2.0 * s_rc / (CAST(n_keys AS DOUBLE) * n_rows)
                 - (n_keys + 1.0) / n_keys, 6) AS gini
    FROM m
    """,
)
def q120_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the per-key row mass (the inequality measure
    behind "5% of the keys carry 60% of the rows" — q119's skew profile
    condensed to one number). Gini = 2·Σ(rank·c)/(n·Σc) − (n+1)/n over
    counts ranked ascending.

    The global rank uses the q89 two-phase distributed ranker
    (`operators/ranking.global_ranks`: range shuffle + Arrow local
    ranks + broadcast offsets), NOT an unpartitioned window — the
    oracle's `row_number() OVER (ORDER BY ...)` is the single-node
    statement of the same semantics. Σ(rank·c) is an exact integer sum
    (order-independent across engines); ties share c, so tie order
    cannot change it. Only the final Gini expression is double, and it
    is the same text in both engines."""
    from batch_process_spark.operators.ranking import global_ranks

    li = _t(spark, sf_dir, "lineitem")
    c = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = global_ranks(c, order_cols=["cnt", "l_partkey"])
    m = ranked.agg(
        F.sum(F.col("row_number") * F.col("cnt")).alias("s_rc"),
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return m.select(
        "n_keys",
        "n_rows",
        F.round(
            2.0 * F.col("s_rc") / (F.col("n_keys").cast("double") * F.col("n_rows"))
            - (F.col("n_keys") + 1.0) / F.col("n_keys"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q121 — last-touch attribution (most recent non-purchase event within
# the hour before each purchase)

_ATTR_WINDOW_US = 3_600_000_000  # 1 hour


@_q(
    "q121_last_touch_attribution",
    f"""
    WITH s AS (
      SELECT event_type,
             max(CASE WHEN event_type <> 'purchase'
                      THEN {{'t': epoch_us(ts), 'id': event_id,
                             'ty': event_type}} END)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN {_ATTR_WINDOW_US} PRECEDING
                           AND 1 PRECEDING) AS m
      FROM events
    )
    SELECT coalesce(m.ty, '(none)') AS attributed_type,
           count(*) AS n_purchases
    FROM s
    WHERE event_type = 'purchase'
    GROUP BY coalesce(m.ty, '(none)')
    """,
)
def q121_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the user's
    most recent NON-purchase event in the preceding hour ('(none)' when
    the hour is quiet) — the marketing-analytics staple, over an
    exact-microsecond RANGE frame.

    The touch is selected as max(struct(epoch_us, event_id, type)) over
    the frame — lexicographic struct ordering gives "latest timestamp,
    tie-broken by event_id" IDENTICALLY in both engines (a bare
    last_value(... IGNORE NULLS) would pick whichever same-microsecond
    peer the engine happened to order last). One window shuffle on
    user_id (high-cardinality), then a 6-group aggregate."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-_ATTR_WINDOW_US, -1)
    )
    touch = F.max(
        F.when(
            F.col("event_type") != "purchase",
            F.struct(
                F.unix_micros("ts").alias("t"),
                F.col("event_id").alias("id"),
                F.col("event_type").alias("ty"),
            ),
        )
    ).over(w)
    return (
        ev.select("event_type", touch.alias("m"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("m.ty"), F.lit("(none)")).alias("attributed_type"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


# ---------------------------------------------------------------------------
# q122 — event-path mining (the first-5-steps journey table)

_PATH_LEN = 5
_PATH_TOP = 20


@_q(
    "q122_event_paths",
    f"""
    WITH o AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM o WHERE rn <= {_PATH_LEN} GROUP BY user_id
    )
    SELECT path, count(*) AS n_users
    FROM p GROUP BY path
    ORDER BY n_users DESC, path ASC
    LIMIT {_PATH_TOP}
    """,
)
def q122_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey mining: each user's first five events as an ordered
    'signup>view>click>…' path, counted across users, top-20 — the
    sequence complement to q104's fixed funnel and q108's one-step
    transitions. The path is assembled from a sorted collect_list
    (deterministic (ts, event_id) order inside the struct sort), so
    the per-user shuffle is the ONLY wide stage; top-20 is
    TakeOrdered. At 100 TB user_id is high-cardinality and the per-user
    payload is capped at 5 events."""
    ev = _t(spark, sf_dir, "events")
    seq = F.array_sort(
        F.collect_list(
            F.struct(
                F.unix_micros("ts").alias("t"),
                F.col("event_id").alias("id"),
                F.col("event_type").alias("ty"),
            )
        )
    )
    path = F.array_join(
        F.transform(F.slice(seq, 1, _PATH_LEN), lambda x: x.ty), ">"
    )
    return (
        ev.groupBy("user_id")
        .agg(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(_PATH_TOP)
    )


# ---------------------------------------------------------------------------
# q123 — event-type co-occurrence PMI over user-hour contexts

@_q(
    "q123_cooccurrence_pmi",
    """
    WITH ctx AS (
      SELECT DISTINCT user_id, date_trunc('hour', ts) AS hr, event_type
      FROM events
    ),
    n AS (SELECT count(DISTINCT (user_id, hr)) AS n_ctx FROM ctx),
    ci AS (SELECT event_type, count(*) AS c FROM ctx GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS c_ab
      FROM ctx a JOIN ctx b
        ON a.user_id = b.user_id AND a.hr = b.hr
       AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, c_ab,
           CAST(floor(ln(CAST(n.n_ctx AS DOUBLE) * c_ab
                         / (CAST(ca.c AS DOUBLE) * cb.c))
                      * 1000000.0 + 0.5) AS BIGINT) AS pmi_micro
    FROM pairs
    JOIN ci ca ON ca.event_type = type_a
    JOIN ci cb ON cb.event_type = type_b
    CROSS JOIN n
    """,
)
def q123_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types co-occurring in
    the same (user, hour) context — the corpus-statistics primitive
    behind co-occurrence embeddings and market-basket lift. Contexts
    are deduplicated map-side; the pair join is WITHIN a context key
    (never cross-context), so its size is bounded by (types present)²
    per context, not corpus². The single ln per OUTPUT pair (≤10 rows)
    is quantized to micro-units; the count arithmetic feeding it is
    exact integers."""
    ev = _t(spark, sf_dir, "events")
    ctx = ev.select(
        "user_id", F.date_trunc("hour", "ts").alias("hr"), "event_type"
    ).distinct()
    n = ctx.select("user_id", "hr").distinct().agg(
        F.count(F.lit(1)).alias("n_ctx")
    )
    ci = ctx.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = ctx.alias("a")
    b = ctx.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.hr") == F.col("b.hr"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    ca = ci.select(F.col("event_type").alias("type_a"), F.col("c").alias("c_a"))
    cb = ci.select(F.col("event_type").alias("type_b"), F.col("c").alias("c_b"))
    pmi = F.floor(
        F.log(
            F.col("n_ctx").cast("double")
            * F.col("c_ab")
            / (F.col("c_a").cast("double") * F.col("c_b"))
        )
        * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    return (
        pairs.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .crossJoin(F.broadcast(n))
        .select("type_a", "type_b", "c_ab", pmi.alias("pmi_micro"))
    )


# ---------------------------------------------------------------------------
# q124 — per-source KL divergence from the corpus unigram distribution

@_q(
    "q124_source_divergence",
    f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tb AS (
      SELECT source, {_dsir_duck_bucket("word")} AS bucket
      FROM tok WHERE word != ''
    ),
    sb AS (SELECT source, bucket, count(*) AS c_sb FROM tb GROUP BY 1, 2),
    bk AS (SELECT unnest(range(0, {_DSIR_BUCKETS})) AS bucket),
    cb0 AS (SELECT bucket, count(*) AS c_b FROM tb GROUP BY bucket),
    cb AS (
      SELECT bk.bucket, coalesce(cb0.c_b, 0) AS c_b
      FROM bk LEFT JOIN cb0 USING (bucket)
    ),
    ns AS (SELECT source, count(*) AS n_s FROM tb GROUP BY source),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tb),
    grid AS (SELECT ns.source, ns.n_s, cb.bucket, cb.c_b FROM ns CROSS JOIN cb),
    terms AS (
      SELECT g.source, g.n_s,
             CAST(floor(
               ((coalesce(s.c_sb, 0) + 1.0) / (g.n_s + {_DSIR_BUCKETS}.0))
               * ln(((coalesce(s.c_sb, 0) + 1.0) / (g.n_s + {_DSIR_BUCKETS}.0))
                    / ((g.c_b + 1.0) / (tt.t + {_DSIR_BUCKETS}.0)))
               * 1000000000.0 + 0.5) AS BIGINT) AS t_nano
      FROM grid g
      LEFT JOIN sb s ON s.source = g.source AND s.bucket = g.bucket
      CROSS JOIN tt
    )
    SELECT source, CAST(min(n_s) AS BIGINT) AS n_tokens,
           CAST(sum(t_nano) AS BIGINT) AS kl_nano
    FROM terms GROUP BY source
    """,
)
def q124_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift diagnostic: KL(source ‖ corpus) over the hashed
    unigram distribution (same 1024 buckets as q111), add-one smoothed,
    evaluated on the FULL source×1024-bucket grid — the unobserved
    buckets carry positive smoothed mass, and dropping them makes the
    "KL" signed (that bug is exactly what the kl>=0 pytest pins). Each
    grid term's p·ln(p/q) is quantized to integer nano-units BEFORE
    the per-source sum — ≤ sources×1024 ln calls, exact integer
    aggregation. The grid is (sources × 1024) rows built from two
    broadcast-sized aggregates; the corpus-sized token stream only
    feeds the two count tables."""
    docs = _t(spark, sf_dir, "documents")
    tb = (
        docs.select("source", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .select("source", _dsir_bucket(F.col("word")).alias("bucket"))
    )
    sb = tb.groupBy("source", "bucket").agg(F.count(F.lit(1)).alias("c_sb"))
    bk = spark.range(_DSIR_BUCKETS).select(F.col("id").alias("bucket"))
    cb = bk.join(
        tb.groupBy("bucket").agg(F.count(F.lit(1)).alias("c_b")), "bucket", "left"
    ).select("bucket", F.coalesce("c_b", F.lit(0)).alias("c_b"))
    ns = tb.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    tt = tb.agg(F.count(F.lit(1)).alias("t"))
    nb = float(_DSIR_BUCKETS)
    grid = ns.crossJoin(F.broadcast(cb))
    p = (F.coalesce(F.col("c_sb"), F.lit(0)) + 1.0) / (F.col("n_s") + nb)
    q = (F.col("c_b") + 1.0) / (F.col("t") + nb)
    t_nano = F.floor(p * F.log(p / q) * 1000000000.0 + F.lit(0.5)).cast("long")
    return (
        grid.join(sb, ["source", "bucket"], "left")
        .crossJoin(F.broadcast(tt))
        .select("source", "n_s", t_nano.alias("t_nano"))
        .groupBy("source")
        .agg(
            F.min("n_s").alias("n_tokens"),
            F.sum("t_nano").alias("kl_nano"),
        )
    )


# ---------------------------------------------------------------------------
# q125 — inverted-index build (token → ordered posting list)

@_q(
    "q125_inverted_index",
    """
    WITH t AS (
      SELECT DISTINCT unnest(string_split(text, ' ')) AS token, doc_id
      FROM documents
    ),
    t2 AS (SELECT * FROM t WHERE token != '')
    SELECT token,
           count(*) AS df,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             AS postings_md5
    FROM t2 GROUP BY token
    """,
)
def q125_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-index build: per token, document frequency and the md5 of
    the ORDERED posting list (the fingerprint stands in for the list so
    the oracle compare stays small while still pinning every element
    and its order). One shuffle on the token key; postings are
    assembled from a sorted collect_list. At 100 TB hot tokens ('the')
    make this key skewed and the posting list per-key huge — the scale
    path is chunked postings (hash doc_id into fixed-size posting
    shards, the standard segment layout), which this same plan yields
    by adding the shard to the group key."""
    docs = _t(spark, sf_dir, "documents")
    t2 = (
        docs.select(F.explode(F.split("text", " ")).alias("token"), "doc_id")
        .filter(F.col("token") != "")
        .distinct()
    )
    postings = F.md5(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
            ",",
        )
    )
    return t2.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"), postings.alias("postings_md5")
    )


# ---------------------------------------------------------------------------
# q126 — chi-square independence test (event type × hour of day)

@_q(
    "q126_chisquare_independence",
    """
    WITH o AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS obs
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS r FROM o GROUP BY 1),
    ct AS (SELECT hr, CAST(sum(obs) AS BIGINT) AS c FROM o GROUP BY 1),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS total FROM o),
    grid AS (
      SELECT rt.event_type, rt.r, ct.hr, ct.c FROM rt CROSS JOIN ct
    ),
    cells AS (
      SELECT CAST(floor(
               pow(coalesce(o.obs, 0)
                   - CAST(g.r AS DOUBLE) * g.c / n.total, 2)
               / (CAST(g.r AS DOUBLE) * g.c / n.total)
               * 1000000.0 + 0.5) AS BIGINT) AS cell_micro
      FROM grid g
      LEFT JOIN o ON o.event_type = g.event_type AND o.hr = g.hr
      CROSS JOIN n
    ),
    dims AS (
      SELECT (SELECT count(*) FROM rt) AS nr, (SELECT count(*) FROM ct) AS nc
    )
    SELECT (SELECT total FROM n) AS n,
           CAST(sum(cell_micro) AS BIGINT) AS chi2_micro,
           (SELECT (nr - 1) * (nc - 1) FROM dims) AS dof
    FROM cells
    """,
)
def q126_chisquare_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test on the event-type ×
    hour-of-day contingency table — 'does load composition depend on
    time of day', the categorical complement to q116's regression and
    q123's PMI. The observed counts and marginals are exact integers;
    each cell's (o−e)²/e is computed with identical double text in both
    engines over the FULL type×hour grid (zero-observation cells still
    contribute their expected mass) and quantized to micro-units before
    the sum. Everything after the one hour-rollup exchange operates on
    ≤ types×24 rows."""
    ev = _t(spark, sf_dir, "events")
    o = ev.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).alias("obs"))
    rt = o.groupBy("event_type").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("hr").agg(F.sum("obs").alias("c"))
    n = o.agg(F.sum("obs").alias("total"))
    grid = rt.crossJoin(F.broadcast(ct))
    e = F.col("r").cast("double") * F.col("c") / F.col("total")
    cell = F.floor(
        F.pow(F.coalesce(F.col("obs"), F.lit(0)) - e, 2) / e * 1000000.0
        + F.lit(0.5)
    ).cast("long")
    nr = rt.agg(F.count(F.lit(1)).alias("nr"))
    nc = ct.agg(F.count(F.lit(1)).alias("nc"))
    return (
        grid.join(o, ["event_type", "hr"], "left")
        .crossJoin(F.broadcast(n))
        .select(cell.alias("cell_micro"), "total")
        .groupBy()
        .agg(
            F.min("total").alias("n"),
            F.sum("cell_micro").alias("chi2_micro"),
        )
        .crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(nc))
        .select(
            "n",
            "chi2_micro",
            ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
        )
    )
