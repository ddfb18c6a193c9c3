"""Query catalog part 15 (q202+): corpus-composition diagnostics — the
dataset-curation questions a training-data pipeline asks BEFORE mixing
sources: how redundant are two sources with each other (cross-source
n-gram overlap), how lexically diverse is each slice (type-token
ratio), and how fast does new content dry up as the corpus grows
(n-gram novelty curve). All three are single-explode + aggregate
shapes: the pairwise source comparison joins on the GRAM (5 sources,
never doc x doc), the novelty curve reduces every gram to its first
document before any windowing touches it.

Reference parity: beyond the reference in SURVEY §2's sense, like the
rest of the corpus-prep layer — the reference's analytics stop at
per-group summaries (``utils/helpers.py`` grouping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from batch_process_spark.operators.caching import memoized_persist
from batch_process_spark.operators.dedup import shingles_col, tokens_col
from batch_process_spark.queries import _q, _t
from batch_process_spark.queries_ext import DUCK_TOKENS, duck_shingles

# ---------------------------------------------------------------------------
# q202: cross-source n-gram overlap (source-pair Jaccard)
# ---------------------------------------------------------------------------


@_q(
    "q202_source_ngram_overlap",
    f"""
    WITH sg AS (
      SELECT DISTINCT source, unnest({duck_shingles('text', 3)}) AS g
      FROM documents
    ),
    sizes AS (SELECT source, count(*) AS n FROM sg GROUP BY source),
    common AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS c
      FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT common.source_a, common.source_b,
           round(c::DOUBLE / (x.n + y.n - c), 6) AS jaccard_sim
    FROM common
    JOIN sizes x ON x.source = common.source_a
    JOIN sizes y ON y.source = common.source_b
    """,
)
def q202_source_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair redundancy: Jaccard of each source pair's DISTINCT
    3-gram sets — the "are these two crawls the same content?"
    diagnostic that decides whether a new source earns its mixture
    weight. Scale shape: one explode to a distinct (source, gram)
    frame, then the pairwise comparison joins on the GRAM (an
    equi-join whose fan-out is sources-per-gram, bounded by the
    source-schema cardinality) — never a doc x doc or source x source
    cross product; per-source set sizes ride a tiny broadcast."""
    docs = _t(spark, sf_dir, "documents")
    # PERSIST the distinct (source, gram) frame: it feeds the pair
    # join's both sides AND both size lookups — without
    # materialization Spark re-scans and re-distincts the corpus four
    # times (no automatic CTE materialization for shared subplans)
    sg = memoized_persist(
        docs.select(F.col("source"), F.explode(shingles_col("text", 3)).alias("g"))
        .distinct()
    )
    sizes = sg.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a, b = sg.alias("a"), sg.alias("b")
    common = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    x = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    y = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        common.join(F.broadcast(x), "source_a")
        .join(F.broadcast(y), "source_b")
        .select(
            "source_a",
            "source_b",
            F.round(F.col("c") / (F.col("na") + F.col("nb") - F.col("c")), 6).alias(
                "jaccard_sim"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q203: type-token ratio per (lang, source)
# ---------------------------------------------------------------------------


@_q(
    "q203_type_token_ratio",
    f"""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(count(DISTINCT t)::DOUBLE / count(*), 6) AS ttr
    FROM (
      SELECT lang, source, unnest({DUCK_TOKENS.format(t='text')}) AS t
      FROM documents
    )
    GROUP BY lang, source
    """,
)
def q203_type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per corpus slice: type-token ratio (distinct
    tokens / total tokens) by (lang, source) — low TTR flags templated
    or repetitive slices before they dilute a training mix. One
    explode, one grouped count(DISTINCT): Spark plans the distinct as
    a two-phase expand/partial-agg, so the exchange carries (keys,
    token) partials, never raw rows."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("lang", "source", F.explode(tokens_col("text")).alias("t"))
    return toks.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.count_distinct(F.col("t")) / F.count(F.lit(1)), 6).alias("ttr"),
    )


# ---------------------------------------------------------------------------
# q204: n-gram novelty curve (new distinct grams per corpus decile)
# ---------------------------------------------------------------------------


@_q(
    "q204_ngram_novelty_curve",
    f"""
    WITH g AS (
      SELECT doc_id, unnest({duck_shingles('text', 3)}) AS g
      FROM documents
    ),
    f AS (SELECT g, min(doc_id) AS d0 FROM g GROUP BY g),
    m AS (SELECT max(doc_id) AS mx FROM documents),
    b AS (SELECT CAST(floor(d0 * 10 / (mx + 1)) AS INT) AS decile FROM f, m),
    c AS (SELECT decile, CAST(count(*) AS BIGINT) AS new_grams FROM b GROUP BY decile)
    SELECT decile, new_grams,
           CAST(sum(new_grams) OVER (ORDER BY decile) AS BIGINT) AS cum_grams
    FROM c
    """,
)
def q204_ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diminishing-novelty curve: how many NEVER-SEEN-BEFORE distinct
    3-grams each corpus decile (by doc_id) contributes, with the
    cumulative total — the "is more of this source still adding new
    content?" growth diagnostic. Scale shape: every gram reduces to
    its FIRST document via one partial-agg min (gram-granularity
    exchange); the window only ever sees the 10 decile rows, so the
    single-task window is bounded by construction, not by data."""
    docs = _t(spark, sf_dir, "documents")
    g = docs.select("doc_id", F.explode(shingles_col("text", 3)).alias("g"))
    first = g.groupBy("g").agg(F.min("doc_id").alias("d0"))
    mx = docs.agg(F.max("doc_id").alias("mx"))
    per = (
        first.crossJoin(F.broadcast(mx))
        .select(
            F.floor(F.col("d0") * 10 / (F.col("mx") + 1)).cast("int").alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("new_grams"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "decile", "new_grams", F.sum("new_grams").over(w).alias("cum_grams")
    )
