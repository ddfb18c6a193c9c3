"""Query catalog part 6 (q93+): corpus curation depth.

More LLM-training-data and streaming operators, each oracle-checked
against DuckDB (corpus queries on the shared parquet tables; streaming
queries against literal micro-batch feeds recomputed exactly in SQL):

- q93 benchmark decontamination (n-gram overlap between the training
  corpus and a held-out eval set — the pass every serious pretraining
  pipeline runs before tokenization)
- q94 Gopher-style repetition quality (duplicate-word fraction,
  top-bigram mass fraction, per-source flag rates)
- q95 embedding-centroid outlier detection (per-label centroids,
  cosine of every vector to its own centroid, outlier counts)
- q96 TF-IDF keyword extraction (per-document top-3 terms)
- q97 end-to-end semantic dedup (LSH-bucketed embedding pairs ->
  connected components -> min-id survivor election)
- q98 word-entropy quality scoring (the information-measure
  complement to q94's repetition ratios)
- q99 streaming watermark/late-data semantics (real micro-batches,
  append-mode emitted-window set recomputed exactly in SQL)
- q100 stream-stream interval join (two real sources, bounded join
  state, late input dropped at the global watermark)

No reference parity claimed — like part 5, these extend the engine
beyond the reference surface (SURVEY §2 is q01-q88); the brief names
this family first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from batch_process_spark.operators.caching import memoized_persist
from batch_process_spark.queries import _q, _t, round_half_up
from batch_process_spark.queries_ext import DUCK_TOKENS

_TOK = DUCK_TOKENS.format(t="text")

# DuckDB word-bigram / word-trigram lists mirroring ngrams_col(text, n)
# (frequency-preserving, empty when the doc has fewer than n tokens).
_DUCK_BIGRAMS = (
    "list_transform(range(1, greatest(len(w) - 1, 0) + 1),"
    " i -> concat_ws(' ', w[i], w[i+1]))"
)
_DUCK_TRIGRAMS = (
    "list_transform(range(1, greatest(len(w) - 2, 0) + 1),"
    " i -> concat_ws(' ', w[i], w[i+1], w[i+2]))"
)


@_q(
    "q93_decontamination",
    f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOK} AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, source, list_distinct({_DUCK_TRIGRAMS}) AS gs
      FROM toks WHERE len(w) >= 3
    ),
    bench AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 97 = 0),
    train AS (SELECT doc_id, source, unnest(gs) AS g FROM grams WHERE doc_id % 97 <> 0),
    hits AS (
      SELECT t.doc_id, t.source, count(*) AS overlap
      FROM train t JOIN bench b USING (g) GROUP BY 1, 2
    )
    SELECT source, count(*) AS n_contaminated,
           CAST(sum(overlap) AS BIGINT) AS total_overlap
    FROM hits GROUP BY source
    """,
)
def q93_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: distinct word-trigram overlap between
    the training split and a held-out eval set (here: every 97th doc).
    Per-source counts of contaminated docs and total overlapping grams.

    100 TB shape: a real eval suite is small (thousands of docs), so
    its distinct-gram set lands under the broadcast threshold and the
    corpus side stays map-only through tokenize/explode into a
    broadcast-hash join — no shuffle ever carries the corpus grams.
    The broadcast is deliberately NOT a forced hint: this demo derives
    the eval split from the corpus itself (every 97th doc), so its gram
    set grows with the input, and past the threshold AQE must be free
    to fall back to a shuffle join instead of blowing the 8 GB
    broadcast limit. (At the driver's test scales the auto-threshold
    broadcasts it — the plan guard pins that.)"""
    from batch_process_spark.operators.text import ngrams_col

    grams = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(ngrams_col("text", 3))).alias("g"),
    )
    bench = grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    train = grams.filter(F.col("doc_id") % 97 != 0)
    hits = (
        train.join(bench, "g")
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    return hits.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_contaminated"),
        F.sum("overlap").alias("total_overlap"),
    )


def _max_multiplicity(arr) -> F.Column:
    """EXACT count of the most frequent element of a string array, via
    one pass over ``array_sort(arr)`` (max run length of equal adjacent
    elements). Replaces the r5 ``transform(array_distinct(x), g ->
    size(filter(x, == g)))`` form — O(distinct x total) interpreted
    HOF work per row, measured as q94's whole single-task wall at
    sf0.1 — with O(n log n) sort + O(n) fold. Integer-exact: the max
    multiplicity of a multiset does not depend on scan order."""
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def merge(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(F.array_sort(arr), acc0, merge, lambda acc: acc["best"])


def _entropy_nats(arr) -> F.Column:
    """Shannon entropy (nats) of a string array's element distribution
    in ONE pass over ``array_sort(arr)``: fold run lengths, add each
    run's p·ln(p) term when the run closes. Same O(distinct x total) ->
    O(n log n) move as ``_max_multiplicity``. The sum visits distinct
    elements in SORTED order where the r5 form visited first-occurrence
    order — a double-addition reorder bounded ~1e-15, absorbed by the
    4-decimal rounding both engines apply (verified vs the oracle at
    all three SFs)."""
    n = F.size(arr).cast("double")

    def term(run):
        p = run.cast("double") / n
        return F.when(run > 0, p * F.log(p)).otherwise(F.lit(0.0))

    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0.0).alias("ent"),
    )

    def merge(acc, x):
        closes = x != acc["prev"]  # null-safe: first element -> null -> new run
        return F.struct(
            x.alias("prev"),
            F.when(closes | acc["prev"].isNull(), F.lit(1))
            .otherwise(acc["run"] + 1)
            .alias("run"),
            F.when(closes | acc["prev"].isNull(), acc["ent"] + term(acc["run"]))
            .otherwise(acc["ent"])
            .alias("ent"),
        )

    return -F.aggregate(
        F.array_sort(arr), acc0, merge, lambda acc: acc["ent"] + term(acc["run"])
    )


@_q(
    "q94_repetition_quality",
    f"""
    WITH toks AS (
      SELECT source, {_TOK} AS w FROM documents
    ),
    feats AS (
      SELECT source,
        CASE WHEN len(w) > 0
             THEN 1.0 - len(list_distinct(w)) * 1.0 / len(w) ELSE 0.0 END AS dup_frac,
        {_DUCK_BIGRAMS} AS b
      FROM toks
    ),
    f2 AS (
      SELECT source, dup_frac,
        CASE WHEN len(b) > 0
             THEN list_max(list_transform(list_distinct(b),
                    g -> len(list_filter(b, x -> x = g)))) * 1.0 / len(b)
             ELSE 0.0 END AS top_bi_frac
      FROM feats
    )
    SELECT source, count(*) AS n_docs,
           CAST(count(*) FILTER (dup_frac > 0.55 OR top_bi_frac > 0.08) AS BIGINT)
             AS n_flagged,
           floor(avg(dup_frac) * 10000 + 0.5) / 10000 AS avg_dup_frac,
           floor(avg(top_bi_frac) * 10000 + 0.5) / 10000 AS avg_top_bi_frac
    FROM f2 GROUP BY source
    """,
)
def q94_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: per-doc duplicate-word fraction
    and most-frequent-bigram mass fraction, flag rates per source.

    Both metrics are pure array expressions over the token list —
    per-row, JVM-side, zero Python, zero shuffle until the final tiny
    per-source aggregate. The top-bigram scan is O(distinct x total)
    per doc, bounded by doc length — embarrassingly parallel at any
    corpus size."""
    from batch_process_spark.operators.dedup import tokens_col
    from batch_process_spark.operators.text import ngrams_col

    toks = tokens_col("text")
    docs = _t(spark, sf_dir, "documents").select(
        "source", toks.alias("w"), ngrams_col("text", 2).alias("b")
    )
    dup_frac = F.when(
        F.size("w") > 0,
        F.lit(1.0) - F.size(F.array_distinct("w")) / F.size("w"),
    ).otherwise(F.lit(0.0))
    # r14: sorted-run-length max multiplicity (integer-exact, see
    # _max_multiplicity) replaces the O(distinct x total) HOF scan
    top_bi_frac = F.when(
        F.size("b") > 0,
        _max_multiplicity(F.col("b")) / F.size("b"),
    ).otherwise(F.lit(0.0))
    feats = docs.select(
        "source", dup_frac.alias("dup_frac"), top_bi_frac.alias("top_bi_frac")
    )
    flagged = (F.col("dup_frac") > 0.55) | (F.col("top_bi_frac") > 0.08)
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(flagged.cast("long")).alias("n_flagged"),
        round_half_up(F.avg("dup_frac")).alias("avg_dup_frac"),
        round_half_up(F.avg("top_bi_frac")).alias("avg_top_bi_frac"),
    )


@_q(
    "q95_centroid_outliers",
    """
    WITH dims AS (
      SELECT vec_id, label, u.i AS pos, embedding[u.i] AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    cent AS (SELECT label, pos, avg(v) AS c FROM dims GROUP BY 1, 2),
    sums AS (
      SELECT d.vec_id, d.label,
             sum(d.v * c.c) AS dot, sum(d.v * d.v) AS nv, sum(c.c * c.c) AS nc
      FROM dims d JOIN cent c USING (label, pos) GROUP BY 1, 2
    ),
    cos AS (SELECT label, dot / sqrt(nv * nc) AS cs FROM sums)
    SELECT label, count(*) AS n_vectors,
           CAST(count(*) FILTER (cs < 0.0) AS BIGINT) AS n_outliers,
           floor(avg(cs) * 1000 + 0.5) / 1000 AS avg_cos
    FROM cos GROUP BY label
    """,
)
def q95_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-centroid outlier detection: per-label mean vector,
    cosine of each embedding to its own label centroid, count of
    vectors pointing away from their cluster (cos < 0).

    100 TB shape: the centroid table is labels x dims — tiny — so it
    is BROADCAST back and the cosine is computed with zip_with +
    aggregate directly on the embedding array (no second explode of
    the corpus side). The only corpus-wide shuffle is the partial-agg
    centroid build, which map-side-combines down to labels x dims
    cells per task."""
    emb = _t(spark, sf_dir, "embeddings")
    dims = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    cent = (
        dims.groupBy("label", "pos")
        .agg(F.avg("v").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("cvec")
        )
        .withColumn(
            "nc",
            F.aggregate(
                "cvec", F.lit(0.0), lambda acc, x: acc + x * x
            ),
        )
    )
    dot = F.aggregate(
        F.zip_with("embedding", "cvec", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nv = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x
    )
    scored = emb.join(F.broadcast(cent), "label").select(
        "label", (dot / F.sqrt(nv * F.col("nc"))).alias("cs")
    )
    return scored.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum((F.col("cs") < 0.0).cast("long")).alias("n_outliers"),
        round_half_up(F.avg("cs"), 3).alias("avg_cos"),
    )


@_q(
    "q96_tfidf_keywords",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK}) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (
      SELECT tok, count(*) AS df
      FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY 1
    ),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT doc_id, tok, tf * ln(n * 1.0 / df) AS score
      FROM tf JOIN df USING (tok) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, tok, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
      FROM scored
    )
    SELECT doc_id, tok, floor(score * 10000 + 0.5) / 10000 AS score
    FROM ranked WHERE rn <= 3
    """,
)
def q96_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document by
    tf * ln(N/df), ties broken by token.

    100 TB shape: tf is one shuffle on (doc_id, token) with map-side
    combine, PERSISTED (the two-pass MLlib-IDF pattern) so the df
    aggregate re-reads the reduced tf table instead of re-scanning and
    re-exploding the corpus; N rides a 1-row broadcast (no global
    window). df stays an aggregate joined back at distinct-token
    granularity — NOT a count-over-token window, which would buffer
    every row of a stopword-grade hot token in one task. The final
    top-3 window is PARTITIONED by doc_id; no single-task stage
    anywhere."""
    docs = _t(spark, sf_dir, "documents")
    from batch_process_spark.operators.dedup import tokens_col

    toks = docs.select("doc_id", F.explode(tokens_col("text")).alias("tok"))
    # tf feeds both the scored side and the df aggregate: without a
    # persist the build side's column pruning makes the two tf subplans
    # non-identical, exchange reuse never fires, and the corpus is
    # scanned+exploded twice
    tf = memoized_persist(
        toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df"))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", round_half_up(F.col("score")).alias("score"))
    )


def _q97_oracle() -> str:
    # pairs/edges are AS MATERIALIZED: DuckDB otherwise inlines them
    # into the recursive reach CTE and re-runs the bucketed cosine
    # join on every fixpoint iteration (31.7 s -> 2.8 s at sf0.01,
    # byte-identical result).
    from batch_process_spark.queries_ext import _DOT, _Q26_PLANES, _bucket_sql

    dot = _DOT.format(a="l.embedding", b="r.embedding")
    na = _DOT.format(a="l.embedding", b="l.embedding")
    nb = _DOT.format(a="r.embedding", b="r.embedding")
    cos = f"round({dot} / (sqrt({na}) * sqrt({nb})), 6)"
    return f"""
    WITH RECURSIVE b AS (
      SELECT vec_id, embedding, {_bucket_sql('embedding', _Q26_PLANES)} AS bucket
      FROM embeddings
    ),
    pairs AS MATERIALIZED (
      SELECT l.vec_id AS id_a, r.vec_id AS id_b
      FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
      WHERE {cos} >= 0.3
    ),
    edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(src, node) AS (
      SELECT src, src FROM (SELECT DISTINCT src FROM edges)
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.node
    ),
    cc AS (SELECT src AS node, min(node) AS component FROM reach GROUP BY src),
    comp AS (
      SELECT e.vec_id, e.label, coalesce(cc.component, e.vec_id) AS component
      FROM embeddings e LEFT JOIN cc ON cc.node = e.vec_id
    ),
    reps AS (SELECT component, min(vec_id) AS rep FROM comp GROUP BY component)
    SELECT label, count(*) AS n_vectors,
           CAST(count(*) FILTER (vec_id = rep) AS BIGINT) AS n_survivors,
           CAST(count(*) FILTER (vec_id <> rep) AS BIGINT) AS n_removed
    FROM comp JOIN reps USING (component)
    GROUP BY label
    """


@_q("q97_semantic_dedup", _q97_oracle())
def q97_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end semantic dedup: LSH sign-bucket near-dup pairs over
    the embedding column -> connected components -> one canonical
    survivor (min id) per cluster; per-label survivor/removed counts.
    Composes q26's pair machinery with q79's cluster resolution — the
    curation pass that collapses a-b-c near-dup chains even though
    (a, c) was never a candidate pair.

    100 TB shape: pairs come bucketed (never all-pairs, q26); the
    component step is driver union-find below 5M pairs else min-label
    propagation (graph.py); the survivor election and label stats are
    plain equi-join shuffles at vector granularity. The oracle
    re-derives the identical pair stream (seeded hyperplanes as SQL
    literals) and exact transitive closure via recursive CTE."""
    from batch_process_spark.operators.graph import dedup_clusters
    from batch_process_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb, threshold=0.3, n_bits=4)
    clusters = dedup_clusters(pairs.select("id_a", "id_b"))
    comp = (
        emb.select("vec_id", "label")
        .join(
            clusters.select(F.col("node").alias("vec_id"), "component"),
            "vec_id",
            "left",
        )
        .withColumn("component", F.coalesce("component", F.col("vec_id")))
    )
    reps = comp.groupBy("component").agg(F.min("vec_id").alias("rep"))
    return (
        comp.join(reps, "component")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum((F.col("vec_id") == F.col("rep")).cast("long")).alias("n_survivors"),
            F.sum((F.col("vec_id") != F.col("rep")).cast("long")).alias("n_removed"),
        )
    )


@_q(
    "q98_word_entropy",
    f"""
    WITH toks AS (
      SELECT source, {_TOK} AS w FROM documents
    ),
    ent AS (
      SELECT source,
        CASE WHEN len(w) > 0 THEN
          -list_sum(list_transform(list_distinct(w),
            g -> (len(list_filter(w, x -> x = g)) * 1.0 / len(w))
                 * ln(len(list_filter(w, x -> x = g)) * 1.0 / len(w))))
        ELSE 0.0 END AS e
      FROM toks
    )
    SELECT source, count(*) AS n_docs,
           CAST(count(*) FILTER (e < 2.8) AS BIGINT) AS n_low_entropy,
           floor(avg(e) * 10000 + 0.5) / 10000 AS avg_entropy,
           floor(max(e) * 10000 + 0.5) / 10000 AS max_entropy
    FROM ent GROUP BY source
    """,
)
def q98_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram (word) entropy per document — the information-measure
    complement to q94's repetition ratios: machine-generated or
    template junk scores low, natural text high. Per-source averages
    and low-entropy flag counts (threshold 2.8 nats splits the corpus
    ~20/80, pinned non-vacuous by pytest).

    Same 100 TB shape as q94: the entropy is a pure array expression
    over the token list (O(distinct x total) per row, bounded by doc
    length), per-row map-only, zero Python, one tiny per-source
    aggregate exchange at the end."""
    from batch_process_spark.operators.dedup import tokens_col

    docs = _t(spark, sf_dir, "documents").select("source", tokens_col("text").alias("w"))
    n = F.size("w")
    # r14: sorted-run-length single-pass entropy (see _entropy_nats)
    # replaces the O(distinct x total) per-doc HOF scan
    ent = F.when(n > 0, _entropy_nats(F.col("w"))).otherwise(F.lit(0.0))
    feats = docs.select("source", ent.alias("e"))
    return feats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("e") < 2.8).cast("long")).alias("n_low_entropy"),
        round_half_up(F.avg("e")).alias("avg_entropy"),
        round_half_up(F.max("e")).alias("max_entropy"),
    )


@_q(
    "q99_stream_watermark",
    """
    WITH rows(user_id, ts, value) AS (VALUES
      (1, TIMESTAMP '2024-01-01 10:01:00', 1.0),
      (1, TIMESTAMP '2024-01-01 10:02:00', 2.0),
      (1, TIMESTAMP '2024-01-01 10:20:00', 4.0),
      (1, TIMESTAMP '2024-01-01 10:02:00', 100.0),
      (1, TIMESTAMP '2024-01-01 10:30:00', 8.0),
      (1, TIMESTAMP '2024-01-01 10:50:00', 16.0),
      (1, TIMESTAMP '2024-01-01 11:30:00', 32.0)),
    admitted AS (
      -- the 100.0 row arrives in batch 2 behind the 10:15 watermark
      -- (batch 1's max 10:20 minus the 5-minute delay) -> dropped
      SELECT * FROM rows WHERE value <> 100.0
    ),
    agg AS (
      SELECT time_bucket(INTERVAL '10 minutes', ts) AS bucket_start,
             count(*) AS n_events,
             round(sum(value), 4) AS sum_value
      FROM admitted GROUP BY 1
    )
    -- append mode emits exactly the windows closed by the FINAL
    -- watermark: 11:30 (last batch's max) - 5 min = 11:25
    SELECT * FROM agg
    WHERE bucket_start + INTERVAL '10 minutes' <= TIMESTAMP '2024-01-01 11:25:00'
    """,
)
def q99_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark/late-data semantics under the driver's hash-matched
    gate: a REAL Structured-Streaming query over four real micro-
    batches, append mode, 10-minute tumbling windows, 5-minute
    watermark. One event arrives behind the watermark and must be
    dropped from its already-closed window; each emitted window
    appears exactly once. The oracle recomputes the exact emitted set
    in pure SQL: admitted rows, bucketed, windows closed by the FINAL
    watermark (last batch's max event time minus the delay).

    Determinism relies on Spark's no-data micro-batches (default on):
    after each data batch the engine runs a flush batch that applies
    the advanced watermark, so late-row filtering and final-window
    emission are a pure function of the (fixed, literal) batch
    sequence. (With noDataMicroBatches disabled the watermark is never
    applied between our batches and the late row would NOT drop —
    measured, not assumed.) ``sf_dir`` is unused: the semantics under
    test are the engine's, not the data's."""
    import tempfile

    from batch_process_spark.streaming.windows import (
        run_stream_to_memory,
        tumbling_window_agg,
    )

    schema = "user_id int, ts timestamp, value double"
    # the feed dir is gone once the stream stops: the result is the
    # memory-sink table, which does not read it
    with tempfile.TemporaryDirectory(prefix="q99_wm_") as d:
        from batch_process_spark.streaming.feed import append_feed

        def write(rows):
            append_feed(d, schema, rows)

        from datetime import datetime

        def t(h, m):
            return datetime(2024, 1, 1, h, m)

        write([(1, t(10, 1), 1.0), (1, t(10, 2), 2.0), (1, t(10, 20), 4.0)])
        feeds = [
            lambda: write([(1, t(10, 2), 100.0), (1, t(10, 30), 8.0)]),
            lambda: write([(1, t(10, 50), 16.0)]),
            lambda: write([(1, t(11, 30), 32.0)]),
        ]
        out = run_stream_to_memory(
            spark,
            d,
            schema,
            lambda s: tumbling_window_agg(s, width="10 minutes", watermark="5 minutes"),
            query_name="q99_out",
            output_mode="append",
            feeds=feeds,
            scoped_conf={
                "spark.sql.streaming.noDataMicroBatches.enabled": "true",
            },
        )
    return out.select("bucket_start", "n_events", "sum_value")


@_q(
    "q100_stream_stream_join",
    """
    WITH imps(ad_id, imp_ts) AS (VALUES
      (1, TIMESTAMP '2024-01-01 10:00:00'),
      (2, TIMESTAMP '2024-01-01 10:05:00'),
      (3, TIMESTAMP '2024-01-01 11:00:00')),
    clicks(ad_id, click_ts, click_value) AS (VALUES
      (1, TIMESTAMP '2024-01-01 10:04:00', 1.0),
      (2, TIMESTAMP '2024-01-01 10:09:00', 2.0),
      (2, TIMESTAMP '2024-01-01 10:30:00', 3.0),
      (3, TIMESTAMP '2024-01-01 11:05:00', 4.0),
      -- arrives in the final batch behind the 10:50 global watermark
      -- (min(imp 11:00, click 11:05) - 10 min) -> dropped at input
      (1, TIMESTAMP '2024-01-01 10:06:00', 100.0))
    SELECT i.ad_id, i.imp_ts, c.click_ts, c.click_value
    FROM imps i JOIN clicks c
      ON i.ad_id = c.ad_id
     AND c.click_ts >= i.imp_ts
     AND c.click_ts <= i.imp_ts + INTERVAL '10 minutes'
    WHERE c.click_value <> 100.0
    """,
)
def q100_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join under the hash-matched gate: a REAL
    two-source Structured-Streaming query (impressions x clicks,
    10-minute attribution window, 10-minute watermarks on BOTH sides,
    append mode) over three real micro-batches. One click arrives
    behind the global watermark and is dropped at input; the 10:30
    click for ad 2 is on time but outside ad 2's attribution window so
    the join condition rejects it. The oracle recomputes the emitted
    set in pure SQL: admitted rows, interval inner join.

    Determinism (probed, not assumed): late-input filtering uses the
    GLOBAL watermark = min over both sides — a batch that advances only
    the click side cannot drop anything, so the feed advances both
    sides before the late row arrives. no-data micro-batches (default
    on) apply the advanced watermark between our data batches.

    100 TB shape: ``stream_interval_join`` refuses unbounded state;
    per-key join state evicts at watermark + attribution horizon; both
    sides shuffle on ad_id only. ``sf_dir`` unused: engine semantics,
    not data."""
    import tempfile
    from datetime import datetime

    from batch_process_spark.streaming.joins import (
        run_two_streams_to_memory,
        stream_interval_join,
    )

    si = "ad_id int, imp_ts timestamp"
    sc = "ad_id int, click_ts timestamp, click_value double"
    # both feed dirs go once the stream stops (see q99)
    with tempfile.TemporaryDirectory(prefix="q100_imp_") as di, \
            tempfile.TemporaryDirectory(prefix="q100_clk_") as dc:
        from batch_process_spark.streaming.feed import append_feed

        def wi(rows):
            append_feed(di, si, rows)

        def wc(rows):
            append_feed(dc, sc, rows)

        def t(h, m):
            return datetime(2024, 1, 1, h, m)

        wi([(1, t(10, 0)), (2, t(10, 5))])
        wc([(1, t(10, 4), 1.0)])
        feeds = [
            # advances BOTH watermarks: imp 11:00, clicks 11:05 -> global 10:50
            lambda: (wi([(3, t(11, 0))]),
                     wc([(2, t(10, 9), 2.0), (2, t(10, 30), 3.0), (3, t(11, 5), 4.0)])),
            # behind 10:50 -> dropped at input
            lambda: wc([(1, t(10, 6), 100.0)]),
        ]
        out = run_two_streams_to_memory(
            spark, di, si, dc, sc,
            lambda l, r: stream_interval_join(
                l, r, on="ad_id", left_ts="imp_ts", right_ts="click_ts",
                max_delay="10 minutes", watermark="10 minutes",
            ).select("l.ad_id", "imp_ts", "click_ts", "click_value"),
            query_name="q100_out",
            feeds=feeds,
            scoped_conf={
                "spark.sql.streaming.noDataMicroBatches.enabled": "true",
            },
        )
    return out
