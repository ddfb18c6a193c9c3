"""Query catalog part 16 (q205+): the compressed/curated retrieval
layer of the similarity-search north star, plus the corpus audits a
training pipeline runs around it.

- q205/q206: product quantization — per-subspace codebooks + corpus
  encoding (codes pinned per vector under the oracle via md5), and
  asymmetric-distance (ADC) top-k search (m table lookups per
  candidate instead of d multiplies; the query-side half of a
  FAISS-style IVFPQ deployment — the IVF half is q25-q27 and the
  composition is `operators/pq.py::ivfpq_topk`).
- q207/q208: curation audits — sliding-span duplicated-content
  fraction (shift-invariant, catches what fixed blocks miss) and
  sequence-packing fill rate.
- q209: embedding-centroid drift between corpus snapshots.
- q210-q213: retrieval/training data prep — MMR diversified rerank,
  LSH candidate-quality histogram, hard-negative mining, and
  triplet mining with margins.
- q214: streaming PQ serving (the retrieve-compressed/rerank-float
  loop, value-hash-matched per micro-batch).
- q215-q218: the binary tier and its composition — sign-bit codes,
  Hamming top-k, the retrieval-tier evaluation harness (recall@10 /
  MRR@10 vs exact), and the three-tier cascade under one oracle.
- q219-q227: corpus operations — span-level source attribution,
  dedup savings report, tokenizer fertility, quality-vs-duplication
  calibration, join fan-out forecast, incremental-ingest dedup
  delta, embedding-health (norms + isotropy), effective post-dedup
  token budgets, and PII incidence.

Oracle discipline for the PQ queries: the q103 deterministic-kmeans
pattern, per subspace — init = k lowest vec_ids, one Lloyd round,
argmin ties to the lowest centroid id, float32->double casts before
any arithmetic. See operators/pq.py for the 100 TB shuffle
accounting.

Reference parity: beyond the reference (SURVEY §7 M6 north star);
its analytics stop at pandas group-bys.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from batch_process_spark.functions.rounding import round_half_up
from batch_process_spark.operators import pq
from batch_process_spark.operators import text
from batch_process_spark.operators.caching import (
    SPAN_PARTS,
    PersistMemo,
    memoized_persist,
    staged_slices,
)
from batch_process_spark.queries import _q, _query_vectors_table, _t

_PQ_SUBDIM = 16  # 64-dim embeddings -> m = 4 subspaces
_PQ_K = 4

# Shared training/encoding CTE block (DuckDB): per-subspace twin of the
# q103 kmeans SQL. cb = codebook after one Lloyd round; a2 = final
# assignments with per-subspace squared reconstruction error.
_PQ_SQL_CTES = f"""
    dims AS (
      SELECT vec_id, CAST(floor((u.i - 1) / {_PQ_SUBDIM}) AS INT) AS sub,
             ((u.i - 1) % {_PQ_SUBDIM}) AS spos,
             embedding[u.i]::DOUBLE AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    init AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}),
    c0 AS (SELECT d.sub, d.vec_id AS cid, d.spos, d.v AS c
           FROM dims d JOIN init USING (vec_id)),
    d1 AS (
      SELECT d.vec_id, d.sub, c.cid, sum((d.v - c.c) * (d.v - c.c)) AS dist
      FROM dims d JOIN c0 c ON d.sub = c.sub AND d.spos = c.spos
      GROUP BY 1, 2, 3
    ),
    a1 AS (
      SELECT vec_id, sub, cid FROM (
        SELECT vec_id, sub, cid,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1
    ),
    cb AS (
      SELECT a.sub, a.cid, d.spos, avg(d.v) AS c
      FROM dims d JOIN a1 a ON d.vec_id = a.vec_id AND d.sub = a.sub
      GROUP BY 1, 2, 3
    ),
    d2 AS (
      SELECT d.vec_id, d.sub, c.cid, sum((d.v - c.c) * (d.v - c.c)) AS dist
      FROM dims d JOIN cb c ON d.sub = c.sub AND d.spos = c.spos
      GROUP BY 1, 2, 3
    ),
    a2 AS (
      SELECT vec_id, sub, cid, dist FROM (
        SELECT vec_id, sub, cid, dist,
               row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1
    )
"""


# Query-side ADC lookup-table block (q206/q214/q217/q218): expects a
# CTE `q(query_id)` selecting the query ids; produces `lut(query_id,
# sub, cid, l)` against the trained codebook `cb`.
_ADC_LUT_SQL = """
    qd AS (SELECT d.vec_id AS query_id, d.sub, d.spos, d.v
           FROM dims d JOIN q ON d.vec_id = q.query_id),
    lut AS (
      SELECT qd.query_id, c.sub, c.cid, sum((qd.v - c.c) * (qd.v - c.c)) AS l
      FROM qd JOIN cb c ON qd.sub = c.sub AND qd.spos = c.spos
      GROUP BY 1, 2, 3
    )
"""


def _codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized PQ codebook over the embeddings table (feeds
    both q205's encode and q206's LUT + codes — trained once)."""
    emb = _t(spark, sf_dir, "embeddings")
    return memoized_persist(pq.pq_train(emb, _PQ_SUBDIM, k=_PQ_K, iters=1))


# ---------------------------------------------------------------------------
# q205: PQ train + encode (codes + reconstruction error per vector)
# ---------------------------------------------------------------------------


@_q(
    "q205_product_quantization",
    f"""
    WITH {_PQ_SQL_CTES}
    SELECT e.vec_id, e.label,
           md5(string_agg(CAST(a.cid AS VARCHAR), ',' ORDER BY a.sub)) AS codes_md5,
           floor(sum(a.dist) * 10000 + 0.5) / 10000 AS recon_sqerr
    FROM a2 a JOIN embeddings e USING (vec_id)
    GROUP BY 1, 2
    """,
)
def q205_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compression of the embedding corpus: 64 float32 (256 B) ->
    4 codes, with the per-vector squared reconstruction error as the
    quality metric. Every code of every vector is pinned under the
    oracle by the md5 over the sub-ordered code string (the
    collection column itself would crash the driver's sort, as in
    q159). Scale shape: training and encoding are (vec_id, sub)
    partial aggs against a codebook frame AQE chooses how to join;
    nothing quadratic, no driver collect (operators/pq.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    enc = pq.pq_encode(emb, _codebook(spark, sf_dir), _PQ_SUBDIM, keep_dist=True)
    per_vec = enc.groupBy("vec_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub", "cid"))),
                    lambda s: s["cid"].cast("string"),
                ),
                ",",
            )
        ).alias("codes_md5"),
        round_half_up(F.sum("dist")).alias("recon_sqerr"),
    )
    return per_vec.join(emb.select("vec_id", "label"), "vec_id").select(
        "vec_id", "label", "codes_md5", "recon_sqerr"
    )


# ---------------------------------------------------------------------------
# q206: ADC top-k search over the PQ codes
# ---------------------------------------------------------------------------


@_q(
    "q206_pq_adc_topk",
    f"""
    WITH {_PQ_SQL_CTES},
    q AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 5),
    {_ADC_LUT_SQL},
    scored AS (
      SELECT l.query_id, a.vec_id,
             floor(sum(l.l) * 1000000 + 0.5) / 1000000 AS adc_dist
      FROM a2 a JOIN lut l ON a.sub = l.sub AND a.cid = l.cid
      GROUP BY 1, 2
    )
    SELECT query_id, vec_id, adc_dist, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def q206_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-10 per query over the PQ codes: the
    query's exact subvectors score against each corpus vector's
    assigned centroids via a (queries x m x k)-row lookup table —
    m additions per candidate, never a d-dim multiply against the
    corpus. The LUT is broadcast; the corpus-side exchange carries
    one 8-byte partial per (query, vector). Ranking orders by the
    ROUNDED distance then vec_id in both engines, so FP sum-order
    drift (1e-15, vs inter-vector distance gaps orders larger)
    cannot reorder the cut."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = _codebook(spark, sf_dir)
    codes = memoized_persist(pq.pq_encode(emb, cb, _PQ_SUBDIM))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    adc = pq.pq_adc_scores(queries, cb, codes, _PQ_SUBDIM)
    scored = adc.select(
        "query_id",
        "vec_id",
        round_half_up(F.col("adc"), 6).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "adc_dist", "rank")
    )


# ---------------------------------------------------------------------------
# q207: sliding-span duplication audit (shift-invariant cross-doc dedup)
# ---------------------------------------------------------------------------

_SPAN_WORDS = 8

# Shared span construction (q207 / q219 / q222-via-q207): every sliding
# _SPAN_WORDS-word span, keyed by the 60-bit md5-prefix BIGINT (the
# shingle_fingerprint idiom widened — 8 B through aggs and joins;
# collisions ~n^2/2^61 and the oracle computes the IDENTICAL key).
_SPAN_SQL_CTES = f"""
    t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS ws
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             ('0x' || substr(md5(array_to_string(ws[i:i+{_SPAN_WORDS - 1}], ' ')), 1, 15))::BIGINT AS h
      FROM t, unnest(range(1, len(ws) - {_SPAN_WORDS - 2})) AS u(i)
      WHERE len(ws) >= {_SPAN_WORDS}
    )
"""


def _span_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, h) span-occurrence rows — the Spark twin of
    _SPAN_SQL_CTES. Occurrence-level: q207 counts positions; q219
    distincts first.

    Implemented as a fused Arrow kernel (mapInPandas): per doc, split
    on the literal space (exactly string_split(text, ' ') + empty
    filter — NOT Python's any-whitespace split), then hash each
    sliding 8-word window with md5 and keep the 60-bit hex prefix —
    byte-identical to the oracle's key. Measured round 10 on 1M docs /
    41M spans: 6.8 s vs 13.7 s for the previous codegen assembly
    (slice + array_join allocates a fresh array AND string per span;
    the kernel re-joins small Python slices and hashlib.md5 is cheap
    at 50-byte inputs) — the one hot path where the Arrow kernel beats
    codegen post-regex-fix, re-measured as VERDICT r9 asked. Map-only:
    the kernel emits (doc_id, h) straight into the downstream
    repartition; nothing driver-side."""
    import pandas as pd

    span = _SPAN_WORDS

    def gen(it):
        import hashlib

        for pdf in it:
            ids_out, hs = [], []
            for did, text in zip(pdf["doc_id"].to_numpy(), pdf["text"]):
                if text is None:
                    continue
                ws = [w for w in text.split(" ") if w]
                n = len(ws)
                for i in range(n - span + 1):
                    h = hashlib.md5(
                        " ".join(ws[i : i + span]).encode("utf-8")
                    ).hexdigest()[:15]
                    ids_out.append(did)
                    hs.append(int(h, 16))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids_out, dtype="int64"),
                    "h": pd.array(hs, dtype="int64"),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        gen, schema="doc_id long, h long"
    )


# Self-sizing knobs for the occurrence exchange (r11 verdict item 2):
# below the gate the session's static shuffle partitions are right
# (tests/bench: tiny frames, fewer tasks win); above it the partition
# count derives from the estimated span-row count so per-reducer
# volume stays bounded as the corpus grows — §5ac measured the 1M-doc
# near-cap fixture pushing 41M occurrence rows (and their ~90x pair
# fan-out in q219) through 32 static reducers, all sort/GC pressure.
_SPAN_SIZE_GATE_ROWS = 16_000_000  # ~500k rows/reducer at 32 parts
_SPAN_TARGET_ROWS_PER_PART = 500_000


def _span_avg_width(docs: DataFrame, per_file: int = 64) -> float | None:
    """Average whitespace-split width (the ``F.size(F.split(text, ' '))``
    semantics the span kernel sees) from a CROSS-FILE sample: the first
    ``per_file`` docs of every source file in the first Arrow batch of
    EVERY scan partition, one batch read per partition. A single global
    prefix (the r12 ``limit(2048)``) is biased by the skew factor when
    document length correlates with storage order (corpus sorted by
    source/length — VERDICT r12 What's wrong #2); per-file heads track
    the cross-file trend at the same ~one-small-read cost. Heads are
    taken per FILE, not per partition: the scan packs small files into
    shared partitions, so when file size tracks document length (the
    sorted corpus) one head per partition under-samples the short
    documents (measured 5-17% high, up to 24%, on the sorted 8-file
    fixture depending on where the range sample cut the files).
    mapInPandas supports early termination, so each task decodes
    exactly one input batch."""
    import pandas as pd

    def heads(it):
        for pdf in it:
            # python str.split(" ") matches F.split's single-space
            # regex semantics (empty strings kept, incl. trailing)
            w = pdf.groupby("f", sort=False)["text"].head(per_file).map(
                lambda t: len(t.split(" ")) if t is not None else None
            )
            yield pd.DataFrame({"w": pd.array(w, dtype="Int64")})
            break

    return (
        docs.select("text", F.input_file_name().alias("f"))
        .mapInPandas(heads, schema="w long")
        .agg(F.avg("w"))
        .first()[0]
    )


def _span_occ_partitions(docs: DataFrame) -> int | None:
    """Partition count for the span-family exchanges, or None to keep
    the session default. Estimate = doc count (parquet metadata job,
    no text read) x avg spans/doc from a per-partition-heads sample
    (one Arrow batch read per scan partition). Runs only on sizing-memo
    MISS — once per corpus per session (``_span_scale_parts``)."""
    spark = docs.sparkSession
    n_docs = docs.count()
    if n_docs == 0:
        return None
    avg_w = _span_avg_width(docs) or 0.0
    est = int(n_docs * max(avg_w - _SPAN_WORDS + 1, 1.0))
    if est <= _SPAN_SIZE_GATE_ROWS:
        return None
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(2048, max(session_parts, -(-est // _SPAN_TARGET_ROWS_PER_PART)))


def _span_scale_parts(docs: DataFrame) -> int | None:
    """Memoized ``_span_occ_partitions`` for this corpus; None below
    the small-corpus gate (session default partitioning everywhere —
    the bench/tests shape, plans unchanged). Memoized in
    ``caching.SPAN_PARTS``, keyed like the occurrence memo, so the
    downstream wide ops (q207/q219/q240/q247) can self-size their
    exchanges WITHOUT re-running the sizing jobs — r12 applied the
    estimate only to the memo's own exchange and left the downstream
    pair-aggregate/window exchanges at the session default, which §5ah
    measured as the 2M-doc wall (152-211 s vs 63 s correctly sized)."""
    key = PersistMemo.plan_key(_span_frame(docs), "h-occ")
    if key in SPAN_PARTS:
        return SPAN_PARTS[key]
    n = _span_occ_partitions(docs)
    while len(SPAN_PARTS) >= 8:  # one entry per corpus; a few corpora at most
        SPAN_PARTS.pop(next(iter(SPAN_PARTS)))
    SPAN_PARTS[key] = n
    return n


# Storage level for the memoized occurrence frame: SERIALIZED
# memory+disk (PySpark's MEMORY_AND_DISK; DataFrame.persist()'s default
# is MEMORY_AND_DISK_DESER). The frame is two longs x tens of millions
# of rows whose on-heap deserialized cache was measured as the q219
# GC-variance driver (§5ad, 30-80 s trial spread at 1M docs); the
# serialized form trades a cheap decode on each of the 2-4 branch
# reads for a flat heap profile. r14 same-host 4-trial pair (q219 at
# 1M docs, fresh JVM per side): MEMORY_AND_DISK min 15.4 s band 1.58;
# MEMORY_AND_DISK_DESER min 15.5 s band 2.12 -- mins tie, the
# serialized level keeps the tighter band.
_SPAN_MEMO_LEVEL = StorageLevel.MEMORY_AND_DISK


def _span_occ(docs: DataFrame) -> DataFrame:
    """The h-partitioned occurrence-level span frame, PERSISTED once
    per input plan (``caching.memoized_persist``, like the dedup
    shingle frame). Why: the span-family audits (q219/q240/q247)
    join this frame to its own aggregates, and Catalyst never
    subtree-reuses across such branches (no ReusedExchange, measured
    round 10) — q247's plan ran the Arrow span kernel FIVE times,
    q240's twice. With the memo, the kernel + the h-repartition
    materialize once and every branch reads the cache;
    ``.distinct()`` on top stays exchange-free (h ⊂ {doc_id, h}
    satisfies the clustering) and the within-partition dedup is
    recomputed per branch, which is the cheap part.

    Round 12: the exchange SELF-SIZES above the small-corpus gate
    (``_span_occ_partitions`` — estimated span rows / 500k per
    reducer, capped at 2048), and the cache is stored SERIALIZED
    (``_SPAN_MEMO_LEVEL``) to flatten the GC profile the §5ad variance
    came from. Sizing jobs (a metadata count + a per-partition-heads
    width sample) run on sizing-memo miss only.

    Round 13 (VERDICT r12 item 1): this sizing covers ONLY the memo's
    own exchange — §5ah falsified the r12 claim that downstream
    exchanges inherit it (they fell back to the session default, the
    measured 2M-doc wall). The downstream pair-aggregate/window/agg
    exchanges in q207/q219/q240/q247 now size THEMSELVES from the same
    memoized estimate (``_span_scale_parts``) via explicit gated
    repartitions in each query's plan — execution-context-independent,
    no session conf mutation."""
    spans = _span_frame(docs)
    n = None

    def build() -> DataFrame:
        nonlocal n
        n = _span_scale_parts(docs)
        return (
            spans.repartition(n, F.col("h")) if n
            else spans.repartition(F.col("h"))
        )

    out = memoized_persist(
        spans, "h-occ", build=build, storage_level=_SPAN_MEMO_LEVEL
    )
    if n:
        # Round 14 (VERDICT r13 item 6): eager-materialize ABOVE the
        # gate only. Until the cache materializes, a downstream
        # `.distinct()` cannot see the InMemoryRelation's
        # h-partitioning and plans redundant (doc_id, h)
        # ENSURE_REQUIREMENTS exchanges per branch (r13 plan audit —
        # a cold-execution-only cost, but volume corpora ALWAYS re-use
        # the memo, so one count() job here removes those exchanges
        # from the first real execution too. Below the gate the memo
        # stays lazy: bench/test cold trials never pay an extra job.
        out.count()
    return out


@_q(
    "q207_sliding_span_dedup",
    f"""
    WITH {_SPAN_SQL_CTES},
    st AS (SELECT h, count(DISTINCT doc_id) AS nd FROM s GROUP BY h)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN st.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           floor(sum(CASE WHEN st.nd > 1 THEN 1 ELSE 0 END)::DOUBLE
                 / count(*) * 1000000 + 0.5) / 1000000 AS dup_frac
    FROM s JOIN st USING (h)
    GROUP BY s.doc_id
    """,
)
def q207_sliding_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-invariant duplicated-content audit: every SLIDING 8-word
    span (stride 1 — q112's fixed blocks miss a copy offset by one
    word), hashed; a span counts as duplicated when it appears in
    more than one DISTINCT document; output is the per-document
    duplicated-content fraction — the curation metric that decides
    whether a doc is boilerplate-riddled enough to drop even when no
    whole-document twin exists.

    Scale shape (restructured round 10 for single-pass span assembly):
    spans assemble IN-ROW (transform over a sequence — no token
    explode/reassembly) and hash-repartition ONCE on the span hash.
    The (h, doc_id) pre-aggregation then runs EXCHANGE-FREE on the
    h-partitioned data (h ⊂ {h, doc_id} satisfies the clustering) and
    collapses repeated spans within a doc; the distinct-doc count per
    span is a COUNT WINDOW over h on that same partitioning — no
    second branch, so the expensive assembly (slice+join+md5 per span)
    executes exactly once, where the previous stats-join shape
    recomputed it per branch (Catalyst planned no ReusedExchange
    across the self-join, measured round 10) and sorted BOTH join
    sides where the window sorts once. Two shuffles total: spans on h,
    then (h, doc_id)-grained rows on doc_id. A boilerplate span shared
    by millions of docs is one window partition of (h, doc_id) rows —
    a cheap count, no join bucket at occurrence grain."""
    docs = _t(spark, sf_dir, "documents")
    spans = _span_occ(docs)
    occ = spans.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    occ = occ.withColumn("nd", F.count(F.lit(1)).over(Window.partitionBy("h")))
    dup = F.when(F.col("nd") > 1, F.col("cnt")).otherwise(F.lit(0))
    # above the gate, size the per-doc exchange from the corpus (the
    # input is ~one row per distinct span — the session default's few
    # fat reducers were §5ah's wall); below it the plan is unchanged
    n = _span_scale_parts(docs)
    if n:
        occ = occ.repartition(n, "doc_id")
    return (
        occ.groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_spans"),
            F.sum(dup).alias("n_dup_spans"),
            round_half_up(F.sum(dup) / F.sum("cnt"), 6).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# q208: sequence-packing efficiency audit (fill rate per pack)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512


@_q(
    "q208_packing_efficiency",
    f"""
    WITH t AS (
      SELECT doc_id, doc_id % 8 AS pack_shard,
             len(list_filter(regexp_split_to_array(lower(trim(text)), '[^0-9a-zA-Z]+'), x -> x <> '')) AS n_tokens
      FROM documents
    ),
    p AS (
      SELECT doc_id, n_tokens, pack_shard,
             CAST(floor((sum(n_tokens) OVER (PARTITION BY pack_shard ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS pack_id
      FROM t
    )
    SELECT pack_shard, pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           floor(sum(n_tokens)::DOUBLE / {_PACK_BUDGET} * 1000000 + 0.5) / 1000000
             AS fill_frac
    FROM p
    GROUP BY pack_shard, pack_id
    """,
)
def q208_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-rate audit of q77's sharded sequence packing: per pack,
    how many docs landed in it and what fraction of the 512-token
    budget their tokens fill — under-full packs are wasted training
    compute (padding), >1.0 fills mark packs whose last doc spills
    into the next (the first-token-assignment rule), both of which a
    pipeline watches before committing a packing layout. One grouped
    agg over the packing output; the cumulative-sum window is
    per-shard parallel exactly as in q77."""
    from batch_process_spark.operators.chunking import pack_documents

    docs = _t(spark, sf_dir, "documents").withColumn(
        "shard", F.col("doc_id") % 8
    )
    packed = pack_documents(docs, budget_tokens=_PACK_BUDGET, shard_col="shard")
    return packed.groupBy("pack_shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("pack_tokens"),
        round_half_up(F.sum("n_tokens") / _PACK_BUDGET, 6).alias("fill_frac"),
    )


# ---------------------------------------------------------------------------
# q209: embedding drift between corpus snapshots (centroid shift per label)
# ---------------------------------------------------------------------------


@_q(
    "q209_embedding_drift",
    """
    WITH d AS (
      SELECT vec_id, label, vec_id % 2 AS snap, u.i AS pos,
             embedding[u.i]::DOUBLE AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    m AS (
      SELECT label, pos,
             avg(v) FILTER (WHERE snap = 0) AS ma,
             avg(v) FILTER (WHERE snap = 1) AS mb
      FROM d GROUP BY label, pos
    ),
    c AS (
      SELECT label,
             CAST(count(*) FILTER (WHERE vec_id % 2 = 0) AS BIGINT) AS n_a,
             CAST(count(*) FILTER (WHERE vec_id % 2 = 1) AS BIGINT) AS n_b
      FROM embeddings GROUP BY label
    )
    SELECT m.label, c.n_a, c.n_b,
           floor(sqrt(sum((ma - mb) * (ma - mb))) * 1000000 + 0.5) / 1000000
             AS centroid_shift,
           floor(sum(ma * mb) / (sqrt(sum(ma * ma)) * sqrt(sum(mb * mb)))
                 * 1000000 + 0.5) / 1000000 AS centroid_cos
    FROM m JOIN c USING (label)
    WHERE c.n_a > 0 AND c.n_b > 0
    GROUP BY m.label, c.n_a, c.n_b
    """,
)
def q209_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: split the corpus into two
    deterministic snapshots (vec_id parity — in production, two
    ingestion dates), compute each label's centroid in both, and
    report the per-label centroid SHIFT (L2) and centroid COSINE —
    the "did this class move under the new embedding model / data
    mix?" check that q143's PSI does for scalar features. Scale
    shape: one position-explode into a (label, pos) partial agg
    (conditional avgs — exchange carries labels x dims rows), then a
    labels-sized reduce; no vector ever leaves its task unaggregated."""
    docs = _t(spark, sf_dir, "embeddings")
    d = docs.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).alias("snap"),
        F.posexplode("embedding").alias("pos", "vf"),
    ).select("vec_id", "label", "snap", "pos", F.col("vf").cast("double").alias("v"))
    m = d.groupBy("label", "pos").agg(
        F.avg(F.when(F.col("snap") == 0, F.col("v"))).alias("ma"),
        F.avg(F.when(F.col("snap") == 1, F.col("v"))).alias("mb"),
    )
    c = docs.groupBy("label").agg(
        F.sum((F.col("vec_id") % 2 == 0).cast("long")).alias("n_a"),
        F.sum((F.col("vec_id") % 2 == 1).cast("long")).alias("n_b"),
    )
    six = lambda col: round_half_up(col, 6)  # noqa: E731
    return (
        m.join(c, "label")
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .groupBy("label", "n_a", "n_b")
        .agg(
            six(F.sqrt(F.sum((F.col("ma") - F.col("mb")) ** 2))).alias("centroid_shift"),
            six(
                F.sum(F.col("ma") * F.col("mb"))
                / (
                    F.sqrt(F.sum(F.col("ma") * F.col("ma")))
                    * F.sqrt(F.sum(F.col("mb") * F.col("mb")))
                )
            ).alias("centroid_cos"),
        )
    )


# ---------------------------------------------------------------------------
# q210: MMR diversified retrieval (greedy relevance/diversity rerank)
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7
_MMR_POOL = 8

_Q210_DOT = "list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
_Q210_COS = (
    f"round({_Q210_DOT.format(a='{x}', b='{y}')}"
    f" / (sqrt({_Q210_DOT.format(a='{x}', b='{x}')})"
    f" * sqrt({_Q210_DOT.format(a='{y}', b='{y}')})), 6)"
)


@_q(
    "q210_mmr_diversified",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, e.vec_id, e.embedding,
             {_Q210_COS.format(x='e.embedding', y='q.qe')} AS rel
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != q.query_id
    ),
    cand AS (
      SELECT query_id, vec_id, embedding, rel FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, vec_id) AS rn
        FROM scored) WHERE rn <= {_MMR_POOL}
    ),
    sim AS (
      SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
             {_Q210_COS.format(x='a.embedding', y='b.embedding')} AS s
      FROM cand a JOIN cand b ON a.query_id = b.query_id
    ),
    p1 AS (
      SELECT query_id, vec_id, rel AS score FROM (
        SELECT query_id, vec_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, vec_id) AS rn
        FROM cand) WHERE rn = 1
    ),
    m2 AS (
      SELECT c.query_id, c.vec_id,
             floor(({_MMR_LAMBDA} * c.rel - {1 - _MMR_LAMBDA} * s1.s)
                   * 1000000 + 0.5) / 1000000 AS mmr
      FROM cand c
      JOIN p1 ON c.query_id = p1.query_id AND c.vec_id != p1.vec_id
      JOIN sim s1 ON s1.query_id = c.query_id
                 AND s1.va = c.vec_id AND s1.vb = p1.vec_id
    ),
    p2 AS (
      SELECT query_id, vec_id, mmr AS score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY mmr DESC, vec_id) AS rn
        FROM m2) WHERE rn = 1
    ),
    m3 AS (
      SELECT c.query_id, c.vec_id,
             floor(({_MMR_LAMBDA} * c.rel
                    - {1 - _MMR_LAMBDA} * greatest(sa.s, sb.s))
                   * 1000000 + 0.5) / 1000000 AS mmr
      FROM cand c
      JOIN p1 ON c.query_id = p1.query_id AND c.vec_id != p1.vec_id
      JOIN p2 ON c.query_id = p2.query_id AND c.vec_id != p2.vec_id
      JOIN sim sa ON sa.query_id = c.query_id
                 AND sa.va = c.vec_id AND sa.vb = p1.vec_id
      JOIN sim sb ON sb.query_id = c.query_id
                 AND sb.va = c.vec_id AND sb.vb = p2.vec_id
    ),
    p3 AS (
      SELECT query_id, vec_id, mmr AS score FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY mmr DESC, vec_id) AS rn
        FROM m3) WHERE rn = 1
    )
    SELECT query_id, CAST(1 AS INT) AS pick, vec_id, score FROM p1
    UNION ALL SELECT query_id, CAST(2 AS INT), vec_id, score FROM p2
    UNION ALL SELECT query_id, CAST(3 AS INT), vec_id, score FROM p3
    """,
)
def q210_mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance rerank: from each query's top-8
    relevance pool, greedily pick 3 results maximizing
    lambda*rel - (1-lambda)*max-sim-to-already-picked (lambda=0.7) —
    the diversity-aware serving layer that keeps a results page from
    showing three near-duplicates. Greedy steps are FIXED (3 picks)
    and every compared value is rounded BEFORE its argmax (ties to
    the lowest vec_id), so both engines pick identical sets. Scale
    shape: MMR is a RERANK stage — the pool comes from an ANN tier
    (q27/IVFPQ) in production, so every frame here is bounded by
    queries x pool (the pairwise sim matrix is pool^2 per query,
    never corpus-sized); the corpus is touched only by the one
    brute-force scoring pass that builds the pool at oracle scale."""
    from batch_process_spark.operators.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            "embedding",
            F.round(cosine(F.col("embedding"), F.col("qe")), 6).alias("rel"),
        )
    )
    w_rel = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("vec_id"))
    cand = memoized_persist(
        scored.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= _MMR_POOL)
        .drop("rn")
    )
    a, b = cand.alias("a"), cand.alias("b")
    sim = memoized_persist(
        a.join(b, F.col("a.query_id") == F.col("b.query_id"))
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 6).alias("s"),
        )
    )
    six = lambda col: round_half_up(col, 6)  # noqa: E731

    def argmax(df, val_col):
        w = Window.partitionBy("query_id").orderBy(F.desc(val_col), F.asc("vec_id"))
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("query_id", "vec_id", F.col(val_col).alias("score"))
        )

    p1 = argmax(cand, "rel")
    s1 = p1.select("query_id", F.col("vec_id").alias("v1"))
    m2 = (
        cand.join(s1, "query_id")
        .filter(F.col("vec_id") != F.col("v1"))
        .join(
            sim.select("query_id", F.col("va").alias("vec_id"),
                       F.col("vb").alias("v1"), F.col("s").alias("s1")),
            ["query_id", "vec_id", "v1"],
        )
        .select(
            "query_id", "vec_id",
            six(_MMR_LAMBDA * F.col("rel") - (1 - _MMR_LAMBDA) * F.col("s1")).alias("mmr"),
        )
    )
    p2 = argmax(m2, "mmr")
    s2 = p2.select("query_id", F.col("vec_id").alias("v2"))
    m3 = (
        cand.join(s1, "query_id").join(s2, "query_id")
        .filter((F.col("vec_id") != F.col("v1")) & (F.col("vec_id") != F.col("v2")))
        .join(
            sim.select("query_id", F.col("va").alias("vec_id"),
                       F.col("vb").alias("v1"), F.col("s").alias("sa")),
            ["query_id", "vec_id", "v1"],
        )
        .join(
            sim.select("query_id", F.col("va").alias("vec_id"),
                       F.col("vb").alias("v2"), F.col("s").alias("sb")),
            ["query_id", "vec_id", "v2"],
        )
        .select(
            "query_id", "vec_id",
            six(
                _MMR_LAMBDA * F.col("rel")
                - (1 - _MMR_LAMBDA) * F.greatest("sa", "sb")
            ).alias("mmr"),
        )
    )
    p3 = argmax(m3, "mmr")
    return (
        p1.select("query_id", F.lit(1).cast("int").alias("pick"), "vec_id", "score")
        .unionByName(
            p2.select("query_id", F.lit(2).cast("int").alias("pick"), "vec_id", "score")
        )
        .unionByName(
            p3.select("query_id", F.lit(3).cast("int").alias("pick"), "vec_id", "score")
        )
    )


# ---------------------------------------------------------------------------
# q211: LSH candidate-quality audit (verify-budget histogram)
# ---------------------------------------------------------------------------

_Q211_TAIL = """
    , j AS (
      SELECT round(len(list_intersect(a.shingles, b.shingles))::DOUBLE /
                   (len(a.shingles) + len(b.shingles)
                    - len(list_intersect(a.shingles, b.shingles))), 6) AS js
      FROM cands
      JOIN docs a ON a.doc_id = cands.id_a
      JOIN docs b ON b.doc_id = cands.id_b
      WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
    ),
    d AS (SELECT least(CAST(floor(js * 10) AS INT), 9) AS j_decile,
                 CAST(count(*) AS BIGINT) AS n_pairs
          FROM j GROUP BY 1),
    t AS (SELECT sum(n_pairs) AS tot FROM d)
    SELECT j_decile, n_pairs,
           floor(n_pairs::DOUBLE / tot * 1000000 + 0.5) / 1000000 AS frac
    FROM d, t
"""


def _q211_oracle() -> str:
    from batch_process_spark.queries_ext import _minhash_oracle

    return _minhash_oracle(tail=_Q211_TAIL)


@_q("q211_lsh_candidate_audit", _q211_oracle())
def q211_lsh_candidate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-quality histogram of the q18 MinHash-LSH pipeline:
    exact Jaccard of EVERY banded candidate pair, bucketed by decile —
    the "how much verify budget does the banding waste below
    threshold" tuning view that the thresholded q18 output hides. Same
    corpus, signatures, and banding as q18 (shared memoized shingle
    frame); adds one decile partial agg and a 1-row total broadcast."""
    from batch_process_spark.operators import dedup
    from batch_process_spark.queries_ext import _near_dup_corpus

    return dedup.minhash_candidate_audit(
        _near_dup_corpus(spark, sf_dir), "doc_id", "text",
        k=3, num_hashes=16, bands=4,
    )


# ---------------------------------------------------------------------------
# q212: hard-negative mining (contrastive-training data prep)
# ---------------------------------------------------------------------------


@_q(
    "q212_hard_negatives",
    f"""
    WITH q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qe
               FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, q.qlabel, e.vec_id, e.label,
             {_Q210_COS.format(x='e.embedding', y='q.qe')} AS score
      FROM embeddings e CROSS JOIN q
      WHERE e.label != q.qlabel
    )
    SELECT query_id, vec_id, label AS neg_label, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def q212_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each anchor query, the 5 OTHER-label
    vectors with the highest cosine — the near-boundary negatives a
    contrastive/retrieval trainer pairs with each anchor (random
    negatives are too easy; these carry the gradient). Scale shape:
    the label filter rides the scoring pass (no post-hoc join), the
    corpus never shuffles, and only partitions x Q x k candidates
    reach the merge — at real scale the scoring pass is the ANN tier
    (IVFPQ) with the label predicate pushed into the candidate scan."""
    from batch_process_spark.operators.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("qlabel"))
        .select(
            "query_id",
            "vec_id",
            F.col("label").alias("neg_label"),
            F.round(cosine(F.col("embedding"), F.col("qe")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "neg_label", "score", "rank")
    )


# ---------------------------------------------------------------------------
# q213: triplet mining (anchor, positive, hard negative, margin)
# ---------------------------------------------------------------------------


@_q(
    "q213_triplet_mining",
    f"""
    WITH q AS (SELECT vec_id AS anchor_id, label AS alabel, embedding AS qe
               FROM embeddings WHERE vec_id < 5),
    pos AS (
      SELECT anchor_id, vec_id AS pos_id, score AS pos_score FROM (
        SELECT q.anchor_id, e.vec_id,
               {_Q210_COS.format(x='e.embedding', y='q.qe')} AS score,
               row_number() OVER (PARTITION BY q.anchor_id
                                  ORDER BY {_Q210_COS.format(x='e.embedding', y='q.qe')} DESC,
                                           e.vec_id) AS rn
        FROM embeddings e CROSS JOIN q
        WHERE e.label = q.alabel AND e.vec_id != q.anchor_id
      ) WHERE rn = 1
    ),
    neg AS (
      SELECT anchor_id, vec_id AS neg_id, score AS neg_score, rn AS neg_rank FROM (
        SELECT q.anchor_id, e.vec_id,
               {_Q210_COS.format(x='e.embedding', y='q.qe')} AS score,
               row_number() OVER (PARTITION BY q.anchor_id
                                  ORDER BY {_Q210_COS.format(x='e.embedding', y='q.qe')} DESC,
                                           e.vec_id) AS rn
        FROM embeddings e CROSS JOIN q
        WHERE e.label != q.alabel
      ) WHERE rn <= 3
    )
    SELECT p.anchor_id, p.pos_id, n.neg_id, CAST(n.neg_rank AS INT) AS neg_rank,
           floor((p.pos_score - n.neg_score) * 1000000 + 0.5) / 1000000 AS margin
    FROM pos p JOIN neg n USING (anchor_id)
    """,
)
def q213_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplets: each anchor pairs its nearest
    SAME-label vector (the positive) with its 3 nearest OTHER-label
    vectors (the hard negatives, q212's mining), emitting the cosine
    margin pos - neg the trainer's loss will push on — near-zero or
    negative margins are exactly the triplets worth training on.
    Scale shape: two label-filtered scoring passes over the broadcast
    anchor batch (corpus never shuffles; per-partition top-k merges),
    then a positives><negatives join keyed on the anchor — bounded at
    anchors x 3 rows."""
    from batch_process_spark.operators.similarity import cosine

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("alabel"),
        F.col("embedding").alias("qe"),
    )
    scored = emb.crossJoin(F.broadcast(q)).select(
        "anchor_id",
        "alabel",
        "vec_id",
        "label",
        F.round(cosine(F.col("embedding"), F.col("qe")), 6).alias("score"),
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("score"), F.asc("vec_id"))
    pos = (
        scored.filter(
            (F.col("label") == F.col("alabel")) & (F.col("vec_id") != F.col("anchor_id"))
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("anchor_id", F.col("vec_id").alias("pos_id"), F.col("score").alias("pos_score"))
    )
    neg = (
        scored.filter(F.col("label") != F.col("alabel"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "anchor_id",
            F.col("vec_id").alias("neg_id"),
            F.col("score").alias("neg_score"),
            F.col("rn").cast("int").alias("neg_rank"),
        )
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "pos_id",
        "neg_id",
        "neg_rank",
        round_half_up(F.col("pos_score") - F.col("neg_score"), 6).alias("margin"),
    )


# ---------------------------------------------------------------------------
# q214: streaming COMPRESSED serving — PQ/ADC scorer in the serving loop
# ---------------------------------------------------------------------------

_Q214_RERANK = 3  # candidates per query = 3 * k = 30


@_q(
    "q214_streaming_pq_serving",
    f"""
    WITH {_PQ_SQL_CTES},
    q AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 15),
    {_ADC_LUT_SQL},
    adc AS (
      SELECT l.query_id, a.vec_id,
             floor(sum(l.l) * 1000000 + 0.5) / 1000000 AS adc6
      FROM a2 a JOIN lut l ON a.sub = l.sub AND a.cid = l.cid
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc6, vec_id) AS rn
        FROM adc) WHERE rn <= {10 * _Q214_RERANK}
    ),
    qe AS (SELECT vec_id AS query_id, embedding AS qemb
           FROM embeddings WHERE vec_id < 15),
    rescored AS (
      SELECT c.query_id, c.vec_id,
             {_Q210_COS.format(x='e.embedding', y='qe.qemb')} AS score
      FROM cand c
      JOIN embeddings e ON e.vec_id = c.vec_id
      JOIN qe ON qe.query_id = c.query_id
    )
    SELECT query_id, vec_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, vec_id) AS rank
      FROM rescored
    ) WHERE rank <= 10
    """,
)
def q214_streaming_pq_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q172's serving loop with the COMPRESSED scorer: 15 query
    vectors arrive over three micro-batches; each batch retrieves 30
    candidates per query by rounded ADC over the fused PQ codes and
    exact-reranks them by cosine (make_adc_scorer). The oracle
    re-derives the EXACT candidate sets (the scorer cuts on distances
    rounded to 6 decimals, so the cut is engine-replicable) and the
    rerank — the full retrieve-compressed/rerank-float deployment held
    to a value-level oracle, per batch. Per batch the scan touches m
    int64 codes per vector; the float corpus only sees the bounded
    candidate join."""
    from batch_process_spark.streaming.similarity import (
        bounded_collect_sink,
        stream_topk_serving,
    )
    from batch_process_spark.streaming.windows import drive_query

    corpus = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = _codebook(spark, sf_dir)
    codes = memoized_persist(pq.pq_encode_fused(corpus, cb, _PQ_SUBDIM))
    scorer = pq.make_adc_scorer(cb, codes, _PQ_SUBDIM, rerank_factor=_Q214_RERANK)

    d, write_slice = staged_slices(sf_dir, "q214_slices_", _query_vectors_table)
    stream = (
        spark.readStream.schema("query_id long, embedding array<float>")
        .format("parquet")
        .load(d)
    )
    sink, collected = bounded_collect_sink(max_rows_per_batch=10 * 15)
    q = stream_topk_serving(stream, corpus, sink, k=10, scorer=scorer)
    drive_query(q, [lambda: write_slice(1), lambda: write_slice(2)])
    return spark.createDataFrame(
        collected, "query_id long, vec_id long, score double, rank int"
    )


# ---------------------------------------------------------------------------
# q215/q216: binary quantization — sign-bit codes + Hamming search
# ---------------------------------------------------------------------------

_BQ_WORDS_SQL = """
      SELECT vec_id, label,
             CAST(list_sum(list_transform(range(1, 33),
                  j -> CASE WHEN embedding[j] > 0
                            THEN (1::BIGINT << (j - 1)) ELSE 0::BIGINT END))
                  AS BIGINT) AS w0,
             CAST(list_sum(list_transform(range(33, 65),
                  j -> CASE WHEN embedding[j] > 0
                            THEN (1::BIGINT << (j - 33)) ELSE 0::BIGINT END))
                  AS BIGINT) AS w1
      FROM embeddings
"""


def _bq_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    w0, w1 = pq.sign_bit_words("embedding", 64)
    return memoized_persist(
        emb.select("vec_id", "label", w0.alias("w0"), w1.alias("w1"))
    )


def _hamming_ranked(
    b: DataFrame, k: int, n_queries: int = 5, exclude_self: bool = False
) -> DataFrame:
    """(query_id, vec_id, hamming, rank<=k) over the packed-words frame
    — the shared Hamming tier of q216/q217/q218. Queries broadcast;
    the corpus scans its 8 B/vector words map-side; ties to the lowest
    vec_id."""
    qw = b.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("b0"),
        F.col("w1").alias("b1"),
    )
    scored = b.crossJoin(F.broadcast(qw)).select(
        "query_id",
        "vec_id",
        (pq.hamming(F.col("w0"), F.col("b0"))
         + pq.hamming(F.col("w1"), F.col("b1"))).cast("long").alias("hamming"),
    )
    if exclude_self:
        scored = scored.filter(F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


@_q(
    "q215_binary_quantize",
    f"""
    WITH b AS ({_BQ_WORDS_SQL})
    SELECT vec_id, label, w0, w1,
           CAST(bit_count(w0) + bit_count(w1) AS BIGINT) AS n_bits
    FROM b
    """,
)
def q215_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit vector compression: 64 sign bits packed into two 32-bit
    words (256 B float32 -> 8 B, the tier below PQ's 16 B) — the
    cheapest first-pass filter in a vector stack, searched by XOR +
    popcount (q216). Integer-exact end to end: every packed word of
    every vector sits under the oracle with NO rounding discipline.
    Scale shape: pure map-side array expressions inside codegen — the
    100 TB plan is scan -> project -> write, like q159."""
    b = _bq_words(spark, sf_dir)
    return b.select(
        "vec_id", "label", "w0", "w1",
        (F.bit_count("w0") + F.bit_count("w1")).cast("long").alias("n_bits"),
    )


@_q(
    "q216_hamming_topk",
    f"""
    WITH b AS ({_BQ_WORDS_SQL}),
    q AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1 FROM b WHERE vec_id < 5)
    SELECT query_id, vec_id, hamming, rank FROM (
      SELECT q.query_id, b.vec_id,
             CAST(bit_count(xor(b.w0, q.q0)) + bit_count(xor(b.w1, q.q1))
                  AS BIGINT) AS hamming,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY bit_count(xor(b.w0, q.q0)) + bit_count(xor(b.w1, q.q1)),
                        b.vec_id) AS rank
      FROM b CROSS JOIN q
    ) WHERE rank <= 10
    """,
)
def q216_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming top-10 over the packed sign-bit codes: distance = two
    XORs + two popcounts per candidate — integer-exact, so ranking
    needs no rounding discipline at all (ties to the lowest vec_id).
    The deployment shape mirrors ADC: Hamming preselects, floats
    rerank (the rerank tail is `pq._exact_rerank`, shared with the PQ
    scorers); the catalog entry keeps the pure Hamming ranking so the
    oracle pins every distance. Scale: queries broadcast, the corpus
    scans its 8 B/vector words map-side, only partitions x Q x k rows
    reach the merge."""
    b = _bq_words(spark, sf_dir)
    return _hamming_ranked(b, 10).select("query_id", "vec_id", "hamming", "rank")


# ---------------------------------------------------------------------------
# q217: retrieval-tier evaluation (recall@10 / MRR@10 vs exact)
# ---------------------------------------------------------------------------


@_q(
    "q217_retrieval_eval",
    f"""
    WITH {_PQ_SQL_CTES},
    bq AS ({_BQ_WORDS_SQL}),
    q AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 5),
    qe AS (SELECT vec_id AS query_id, embedding AS qemb
           FROM embeddings WHERE vec_id < 5),
    exact AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT qe.query_id, e.vec_id,
               row_number() OVER (PARTITION BY qe.query_id
                 ORDER BY {_Q210_COS.format(x='e.embedding', y='qe.qemb')} DESC,
                          e.vec_id) AS rank
        FROM embeddings e CROSS JOIN qe
        WHERE e.vec_id != qe.query_id
      ) WHERE rank <= 10
    ),
    qw AS (SELECT vec_id AS query_id, w0 AS b0, w1 AS b1 FROM bq WHERE vec_id < 5),
    ham AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT qw.query_id, bq.vec_id,
               row_number() OVER (PARTITION BY qw.query_id
                 ORDER BY bit_count(xor(bq.w0, qw.b0)) + bit_count(xor(bq.w1, qw.b1)),
                          bq.vec_id) AS rank
        FROM bq CROSS JOIN qw
        WHERE bq.vec_id != qw.query_id
      ) WHERE rank <= 10
    ),
    {_ADC_LUT_SQL},
    adcd AS (
      SELECT l.query_id, a.vec_id,
             floor(sum(l.l) * 1000000 + 0.5) / 1000000 AS adc6
      FROM a2 a JOIN lut l ON a.sub = l.sub AND a.cid = l.cid
      WHERE a.vec_id != l.query_id
      GROUP BY 1, 2
    ),
    adc AS (
      SELECT query_id, vec_id, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc6, vec_id) AS rank
        FROM adcd
      ) WHERE rank <= 10
    ),
    tiers AS (
      SELECT 'hamming' AS tier, query_id, vec_id, rank FROM ham
      UNION ALL
      SELECT 'pq_adc' AS tier, query_id, vec_id, rank FROM adc
    ),
    truth1 AS (SELECT query_id, vec_id AS nn1 FROM exact WHERE rank = 1),
    per_q AS (
      SELECT t.tier, t.query_id,
             count(e.vec_id) AS n_hit,
             max(CASE WHEN t.vec_id = truth1.nn1
                      THEN 1.0 / t.rank ELSE 0.0 END) AS rr
      FROM tiers t
      LEFT JOIN exact e ON e.query_id = t.query_id AND e.vec_id = t.vec_id
      JOIN truth1 ON truth1.query_id = t.query_id
      GROUP BY 1, 2
    )
    SELECT tier,
           floor(avg(n_hit / 10.0) * 1000000 + 0.5) / 1000000 AS recall_at_10,
           floor(avg(rr) * 1000000 + 0.5) / 1000000 AS mrr_at_10
    FROM per_q GROUP BY tier
    """,
)
def q217_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval QA harness as a query: recall@10 and MRR@10 of
    the two compressed tiers (sign-bit Hamming, PQ/ADC) against the
    exact cosine ranking, self-excluded — the continuous evaluation a
    pipeline runs before trusting a cheaper tier with candidate
    generation. MRR uses the exact top-1 neighbor; a tier that misses
    it inside its own top-10 scores 0 for that query (MRR@10). Every
    ranking reuses this module's oracle-pinned constructions, so the
    metric itself is value-hash-checked. Scale shape: three bounded
    top-10 frames per query joined on (query, vec), then a tiers-sized
    aggregate."""
    from batch_process_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding")
    # exact, self-excluded: brute_force_topk includes self (cos=1, rank
    # 1), so request k=11 and re-rank after dropping self
    exact11 = brute_force_topk(corpus, queries, k=11)
    w = Window.partitionBy("query_id").orderBy("rank")
    exact = (
        exact11.filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "vec_id", F.col("rk").alias("rank"))
    )

    ham = _hamming_ranked(
        _bq_words(spark, sf_dir), 10, exclude_self=True
    ).select("query_id", "vec_id", "rank")

    cb = _codebook(spark, sf_dir)
    codes = memoized_persist(pq.pq_encode(emb, cb, _PQ_SUBDIM))
    adcs = (
        pq.pq_adc_scores(queries, cb, codes, _PQ_SUBDIM)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id",
            round_half_up(F.col("adc"), 6).alias("adc6"),
        )
    )
    wadc = Window.partitionBy("query_id").orderBy("adc6", "vec_id")
    adc = (
        adcs.withColumn("rank", F.row_number().over(wadc))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id", "rank")
    )

    tiers = ham.select(F.lit("hamming").alias("tier"), "query_id", "vec_id", "rank").unionByName(
        adc.select(F.lit("pq_adc").alias("tier"), "query_id", "vec_id", "rank")
    )
    truth1 = exact.filter(F.col("rank") == 1).select(
        "query_id", F.col("vec_id").alias("nn1")
    )
    hits = exact.select("query_id", "vec_id", F.lit(1).alias("__hit"))
    per_q = (
        tiers.join(hits, ["query_id", "vec_id"], "left")
        .join(truth1, "query_id")
        .groupBy("tier", "query_id")
        .agg(
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hit"),
            F.max(
                F.when(F.col("vec_id") == F.col("nn1"), 1.0 / F.col("rank")).otherwise(0.0)
            ).alias("rr"),
        )
    )
    return per_q.groupBy("tier").agg(
        round_half_up(F.avg(F.col("n_hit") / 10.0), 6).alias("recall_at_10"),
        round_half_up(F.avg("rr"), 6).alias("mrr_at_10"),
    )


# ---------------------------------------------------------------------------
# q218: three-tier retrieval cascade (Hamming -> ADC -> exact)
# ---------------------------------------------------------------------------

_CASCADE_R1 = 50  # Hamming survivors per query
_CASCADE_R2 = 20  # ADC survivors per query


@_q(
    "q218_retrieval_cascade",
    f"""
    WITH {_PQ_SQL_CTES},
    bq AS ({_BQ_WORDS_SQL}),
    qw AS (SELECT vec_id AS query_id, w0 AS b0, w1 AS b1 FROM bq WHERE vec_id < 5),
    c1 AS (
      SELECT query_id, vec_id FROM (
        SELECT qw.query_id, bq.vec_id,
               row_number() OVER (PARTITION BY qw.query_id
                 ORDER BY bit_count(xor(bq.w0, qw.b0)) + bit_count(xor(bq.w1, qw.b1)),
                          bq.vec_id) AS rn
        FROM bq CROSS JOIN qw
      ) WHERE rn <= {_CASCADE_R1}
    ),
    q AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 5),
    {_ADC_LUT_SQL},
    adcd AS (
      SELECT l.query_id, a.vec_id,
             floor(sum(l.l) * 1000000 + 0.5) / 1000000 AS adc6
      FROM a2 a
      JOIN lut l ON a.sub = l.sub AND a.cid = l.cid
      JOIN c1 ON c1.query_id = l.query_id AND c1.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    c2 AS (
      SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc6, vec_id) AS rn
        FROM adcd
      ) WHERE rn <= {_CASCADE_R2}
    ),
    qe AS (SELECT vec_id AS query_id, embedding AS qemb
           FROM embeddings WHERE vec_id < 5),
    rescored AS (
      SELECT c2.query_id, c2.vec_id,
             {_Q210_COS.format(x='e.embedding', y='qe.qemb')} AS score
      FROM c2
      JOIN embeddings e ON e.vec_id = c2.vec_id
      JOIN qe ON qe.query_id = c2.query_id
    )
    SELECT query_id, vec_id, score, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, vec_id) AS rank
      FROM rescored
    ) WHERE rank <= 10
    """,
)
def q218_retrieval_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production retrieval cascade, end to end under one oracle:
    Hamming over 8 B sign-bit words preselects 50 candidates per query
    (integer-exact cut), PQ/ADC rescoring narrows to 20 (cut on the
    6-decimal-rounded distance), exact cosine reranks to the final 10
    — each tier touching ~an order of magnitude fewer, richer bytes.
    Every cut is engine-replicable (integer Hamming; rounded ADC;
    rounded cosine; all ties to the lowest id), so the DuckDB oracle
    re-derives the full cascade value-for-value. Scale shape: tier 1
    is the map-side 8 B/vector scan, tier 2 joins codes only for the
    bounded survivors, tier 3 is the shared _exact_rerank id-join."""
    c1 = _hamming_ranked(
        _bq_words(spark, sf_dir), _CASCADE_R1
    ).select("query_id", "vec_id")

    emb = _t(spark, sf_dir, "embeddings")
    cb = _codebook(spark, sf_dir)
    codes = memoized_persist(pq.pq_encode(emb, cb, _PQ_SUBDIM))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    adcd = (
        pq.pq_adc_scores(queries, cb, codes, _PQ_SUBDIM)
        .join(c1, ["query_id", "vec_id"])
        .select("query_id", "vec_id", round_half_up(F.col("adc"), 6).alias("adc6"))
    )
    w2 = Window.partitionBy("query_id").orderBy("adc6", "vec_id")
    c2 = (
        adcd.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= _CASCADE_R2)
        .select("query_id", "vec_id")
    )
    return pq._exact_rerank(
        c2, emb.select("vec_id", "embedding"), queries, 10,
        # tier-2 keeps <= _CASCADE_R2 rows for each of the 5 queries
        cand_rows_bound=5 * _CASCADE_R2,
    )


# ---------------------------------------------------------------------------
# q219: span-level source attribution (argmax shared-span partner)
# ---------------------------------------------------------------------------

_ATTR_DF_CAP = 10  # spans in more docs than this carry no attribution signal


@_q(
    "q219_span_attribution",
    f"""
    WITH {_SPAN_SQL_CTES},
    sd AS (SELECT DISTINCT doc_id, h FROM s),
    keep AS (
      SELECT h FROM sd GROUP BY h
      HAVING count(*) > 1 AND count(*) <= {_ATTR_DF_CAP}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS shared_spans
      FROM sd a
      JOIN sd b ON a.h = b.h AND a.doc_id != b.doc_id
      JOIN keep k ON k.h = a.h
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b AS attributed_to, shared_spans FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_a
                                   ORDER BY shared_spans DESC, doc_b) AS rn
      FROM pairs
    ) WHERE rn = 1
    """,
)
def q219_span_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance attribution: for every document sharing content,
    the single partner document with the MOST shared 8-word spans —
    the "which source did this text come from" question asked of
    model outputs and suspected copies alike. Boilerplate spans
    (document frequency > _ATTR_DF_CAP = 10) are excluded BEFORE the
    pair join: they carry no attribution signal, and a span in f docs
    fans out f^2 pair rows — the cap is what keeps the join
    linear-ish at corpus scale (the standard move; the excluded mass
    is exactly the q207 high-frequency tail). Distinct (doc, span)
    first, so a span repeated inside one doc votes once. Ties break
    to the lowest partner id."""
    docs = _t(spark, sf_dir, "documents")
    spans = _span_occ(docs).distinct()
    keep = (
        spans.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") > 1) & (F.col("df") <= _ATTR_DF_CAP))
        .select("h")
    )
    kept = spans.join(keep, "h")
    a = kept.select(F.col("h"), F.col("doc_id").alias("doc_a"))
    b = kept.select(F.col("h"), F.col("doc_id").alias("doc_b"))
    raw = a.join(b, "h").filter(F.col("doc_a") != F.col("doc_b"))
    # above the gate, ONE explicit doc_a exchange sized from the corpus
    # serves BOTH the pair aggregate (doc_a ⊂ {doc_a, doc_b} satisfies
    # its clustering) and the rn window — replacing the TWO
    # session-default exchanges §5ah measured as the 2M-doc wall
    # (152-211 s at 32 static vs 63 s correctly sized). Skew-safe: the
    # df-cap bounds a doc's pair rows at 9 x its span count. Below the
    # gate the plan is unchanged.
    n = _span_scale_parts(docs)
    if n:
        raw = raw.repartition(n, "doc_a")
    pairs = raw.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("shared_spans")
    )
    w = Window.partitionBy("doc_a").orderBy(F.desc("shared_spans"), F.asc("doc_b"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_a", F.col("doc_b").alias("attributed_to"), "shared_spans")
    )


# ---------------------------------------------------------------------------
# q220: dedup savings report (cluster-size histogram + bytes removed)
# ---------------------------------------------------------------------------


def _q220_oracle() -> str:
    from batch_process_spark.queries_ext import _NEAR_DUP_CORPUS
    from batch_process_spark.queries_ext3 import _cc_oracle

    return f"""
    WITH clusters AS ({_cc_oracle()}),
    corpus AS ({_NEAR_DUP_CORPUS}),
    lens AS (SELECT doc_id, strlen(text) AS n_chars FROM corpus),
    per_c AS (
      SELECT c.component, c.cluster_size,
             sum(CASE WHEN c.node != c.component THEN l.n_chars ELSE 0 END)
               AS bytes_removed
      FROM clusters c JOIN lens l ON l.doc_id = c.node
      GROUP BY 1, 2
    )
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size - 1) AS BIGINT) AS docs_removed,
           CAST(sum(bytes_removed) AS BIGINT) AS bytes_removed
    FROM per_c GROUP BY cluster_size
    """


@_q("q220_dedup_savings", _q220_oracle())
def q220_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup REPORT a pipeline publishes after q79's clustering:
    per cluster size, how many clusters exist, how many documents the
    min-id-survivor policy removes, and how many bytes of text that
    reclaims — the "was the dedup pass worth it" accounting. Reuses
    q79's exact pair stream and components; the report adds one
    node-sized join to text lengths and two small aggregates."""
    from batch_process_spark.operators import dedup
    from batch_process_spark.operators.graph import dedup_clusters
    from batch_process_spark.queries_ext import _near_dup_corpus

    corpus = _near_dup_corpus(spark, sf_dir)
    pairs = dedup.minhash_near_dup_pairs(
        corpus, "doc_id", "text", k=3, num_hashes=16, bands=4, threshold=0.7
    )
    from batch_process_spark.operators.graph import cluster_savings_report

    clusters = dedup_clusters(pairs)
    lens = corpus.select(
        F.col("doc_id").alias("node"), F.octet_length("text").alias("n_bytes")
    )
    per_c = (
        clusters.join(lens, "node")
        .groupBy("component", "cluster_size")
        .agg(
            F.sum(
                F.when(F.col("node") != F.col("component"), F.col("n_bytes"))
                .otherwise(F.lit(0))
            ).alias("bytes_removed")
        )
        .select("cluster_size", "bytes_removed")
    )
    return cluster_savings_report(per_c)


# ---------------------------------------------------------------------------
# q221: tokenizer fertility (chars per token) per corpus slice
# ---------------------------------------------------------------------------


from batch_process_spark.queries_ext import DUCK_TOKENS  # noqa: E402


@_q(
    "q221_tokenizer_fertility",
    f"""
    SELECT lang, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(sum(len({DUCK_TOKENS.format(t='text')})) AS BIGINT) AS total_tokens,
           floor(sum(length(text))::DOUBLE
                 / greatest(sum(len({DUCK_TOKENS.format(t='text')})), 1)
                 * 1000000 + 0.5) / 1000000 AS chars_per_token
    FROM documents
    GROUP BY lang, source
    """,
)
def q221_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility proxy per (lang, source): characters per
    token — the compression-budget number that decides how many
    documents fit a token budget, and the first signal that a slice
    is script-mismatched for the tokenizer (fertility spikes). One
    map-side projection (length + token count per doc) into a
    slice-sized partial agg."""
    from batch_process_spark.operators.dedup import tokens_col

    docs = _t(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        "source",
        F.length("text").alias("n_chars"),
        text.token_count_ws("text").alias("n_tokens"),
    )
    return per.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        round_half_up(
            F.sum("n_chars") / F.greatest(F.sum("n_tokens"), F.lit(1)), 6
        ).alias("chars_per_token"),
    )


# ---------------------------------------------------------------------------
# q222: quality-score vs duplication calibration
# ---------------------------------------------------------------------------


def _q222_oracle() -> str:
    from batch_process_spark.queries import ORACLES

    punct = (
        "CASE WHEN length(text) > 0 THEN "
        "length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE / length(text) "
        "ELSE 0.0 END"
    )
    digit = (
        "CASE WHEN length(text) > 0 THEN "
        "length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE / length(text) "
        "ELSE 0.0 END"
    )
    ntok = f"len({DUCK_TOKENS.format(t='text')})"
    return f"""
    WITH dupes AS ({ORACLES['q207_sliding_span_dedup']}),
    q AS (
      SELECT doc_id,
             greatest(1.0 - least({punct} * 2, 0.4) - least({digit} * 2, 0.3)
                      - CASE WHEN {ntok} < 5 OR {ntok} > 100000
                             THEN 0.3 ELSE 0.0 END, 0.0) AS score
      FROM documents
    )
    SELECT least(CAST(floor(score * 5) AS INT), 4) AS q_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor(avg(d.dup_frac) * 1000000 + 0.5) / 1000000 AS avg_dup_frac
    FROM q JOIN dupes d USING (doc_id)
    GROUP BY 1
    """


@_q("q222_quality_dup_calibration", _q222_oracle())
def q222_quality_dup_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the quality score against measured duplication:
    per quality-score quintile (q23's Gopher-style formula, restated
    UNROUNDED so the bucketing avoids the engines' divergent decimal
    rounding), the average sliding-span duplicated-content fraction
    (q207) — if low-quality buckets are not also the duplicated ones,
    the two filters are removing DIFFERENT documents and both earn
    their place in the pipeline. Docs too short for spans (<8 words)
    are excluded by the inner join, as in q207. One map-side score
    projection joined to q207's per-doc frame; the aggregate is
    5 buckets."""
    docs = _t(spark, sf_dir, "documents")
    from batch_process_spark.operators.dedup import tokens_col

    t = F.col("text")
    n_chars = F.length(t)
    # positive-class regexp_count for BOTH counts: value-identical to
    # the negated-class replace, and the replace variant de-optimizes
    # the whole projection when it shares codegen with regexp_counts
    # (1.0 s vs 42.7 s per 1M docs — see operators/text.py
    # quality_features, round-10 profiling)
    punct = F.regexp_count(t, F.lit(r"[!-/:-@\[-`{-~]"))
    digits = F.regexp_count(t, F.lit(r"[0-9]"))
    n_tokens = text.token_count_ws(t)
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, digits / n_chars).otherwise(F.lit(0.0))
    score = F.greatest(
        F.lit(1.0)
        - F.least(punct_ratio * 2, F.lit(0.4))
        - F.least(digit_ratio * 2, F.lit(0.3))
        - F.when((n_tokens < 5) | (n_tokens > 100000), 0.3).otherwise(0.0),
        F.lit(0.0),
    )
    q = docs.select("doc_id", score.alias("score"))
    dup = q207_sliding_span_dedup(spark, sf_dir).select("doc_id", "dup_frac")
    return (
        q.join(dup, "doc_id")
        .groupBy(
            F.least(F.floor(F.col("score") * 5).cast("int"), F.lit(4)).alias("q_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round_half_up(F.avg("dup_frac"), 6).alias("avg_dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# q223: join fan-out audit (pre-flight cardinality forecast)
# ---------------------------------------------------------------------------


@_q(
    "q223_join_fanout_audit",
    """
    WITH l AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS nl
               FROM lineitem GROUP BY 1),
    o AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS no
          FROM orders GROUP BY 1),
    j AS (
      SELECT COALESCE(l.k, o.k) AS k,
             COALESCE(nl, 0) AS nl, COALESCE(no, 0) AS no
      FROM l FULL JOIN o USING (k)
    )
    SELECT CASE WHEN nl * no = 0 THEN 'dangling'
                WHEN nl * no = 1 THEN '1:1'
                WHEN nl * no <= 10 THEN 'low'
                WHEN nl * no <= 100 THEN 'mid'
                ELSE 'high' END AS fanout_class,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(nl) AS BIGINT) AS rows_left,
           CAST(sum(no) AS BIGINT) AS rows_right,
           CAST(sum(nl * no) AS BIGINT) AS est_output_rows
    FROM j GROUP BY 1
    """,
)
def q223_join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join-cardinality forecast: per join key, the exact
    output multiplicity nl x no of a lineitem><orders equi-join,
    bucketed into fan-out classes — the "will this join explode"
    check a pipeline runs BEFORE submitting a cross-table join over
    100 TB (a 'high' bucket holding most keys means salting or
    pre-aggregation first; 'dangling' counts broken referential
    integrity). Two key-grained partial aggs + a key-sized full outer
    join — never the join itself; the forecast costs the key
    cardinality, not the output cardinality."""
    li = _t(spark, sf_dir, "lineitem").groupBy(
        F.col("l_orderkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("nl"))
    orders = _t(spark, sf_dir, "orders").groupBy(
        F.col("o_orderkey").alias("k")
    ).agg(F.count(F.lit(1)).alias("no"))
    j = li.join(orders, "k", "full").select(
        F.coalesce("nl", F.lit(0)).alias("nl"),
        F.coalesce("no", F.lit(0)).alias("no"),
    )
    prod = F.col("nl") * F.col("no")
    cls = (
        F.when(prod == 0, "dangling")
        .when(prod == 1, "1:1")
        .when(prod <= 10, "low")
        .when(prod <= 100, "mid")
        .otherwise("high")
    )
    return j.groupBy(cls.alias("fanout_class")).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("nl").cast("long").alias("rows_left"),
        F.sum("no").cast("long").alias("rows_right"),
        F.sum(prod).cast("long").alias("est_output_rows"),
    )


# ---------------------------------------------------------------------------
# q224: incremental-ingest dedup delta (new batch vs existing corpus)
# ---------------------------------------------------------------------------


@_q(
    "q224_ingest_dedup_delta",
    """
    WITH corpus AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
    batch AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 2 = 1),
    chashes AS (SELECT DISTINCT h FROM corpus),
    firsts AS (SELECT h, min(doc_id) AS first_id FROM batch GROUP BY h),
    cls AS (
      SELECT b.doc_id,
             CASE WHEN c.h IS NOT NULL THEN 'dup_vs_corpus'
                  WHEN b.doc_id != f.first_id THEN 'dup_in_batch'
                  ELSE 'novel' END AS ingest_class
      FROM batch b
      LEFT JOIN chashes c ON c.h = b.h
      JOIN firsts f ON f.h = b.h
    )
    SELECT ingest_class, CAST(count(*) AS BIGINT) AS n_docs
    FROM cls GROUP BY ingest_class
    """,
)
def q224_ingest_dedup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest accounting: split the table into an existing
    deduped corpus (even doc_ids — in production, the indexed store)
    and an arriving batch (odd), and classify every batch document as
    a duplicate of the CORPUS (content hash already indexed), a
    duplicate WITHIN the batch (not its hash's first occurrence), or
    novel — the numbers an ingest pipeline publishes per increment
    before appending.

    Scale shape (round-11 restructure): the published numbers are pure
    per-hash arithmetic — dup_vs_corpus = Σ batch docs of corpus-known
    hashes, novel = # corpus-unknown hashes seen in the batch,
    dup_in_batch = Σ (batch docs − 1) over those — so the whole query
    is ONE text scan computing the 16-byte content hash, ONE partial-
    agged exchange of (hash, n_batch, in_corpus), and a single-row
    unpivot. The previous shape scanned + hashed the text TWICE
    (corpus and batch branches) and paid three more exchanges for a
    distinct + a first-occurrence join; at 1M docs this halves the
    scan work and cuts the per-doc shuffle bytes ~2x. In production
    the corpus side is a persisted hash index (q129's pattern) and the
    same per-hash aggregate runs over batch ⋈ index."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.unhex(F.md5("text")).alias("h")  # 16-byte key, not hex
    )
    # NULL-text docs hash to NULL; the oracle's null-unsafe inner join
    # (JOIN firsts ON f.h = b.h) drops them from the batch entirely,
    # while groupBy(h) would pool them into one classified group —
    # mirror the oracle's drop explicitly.
    docs = docs.filter(F.col("h").isNotNull())
    per_h = docs.groupBy("h").agg(
        F.count(F.when(F.col("doc_id") % 2 == 1, 1)).alias("n_batch"),
        F.max((F.col("doc_id") % 2 == 0).cast("int")).alias("in_corpus"),
    )
    known = F.col("in_corpus") == 1
    totals = per_h.filter(F.col("n_batch") > 0).agg(
        F.sum(F.when(known, F.col("n_batch")).otherwise(0)).alias("dup_vs_corpus"),
        F.sum(F.when(known, 0).otherwise(F.col("n_batch") - 1)).alias("dup_in_batch"),
        F.sum(F.when(known, 0).otherwise(1)).alias("novel"),
    )
    return (
        totals.select(
            F.explode(
                F.create_map(
                    F.lit("dup_vs_corpus"), F.col("dup_vs_corpus"),
                    F.lit("dup_in_batch"), F.col("dup_in_batch"),
                    F.lit("novel"), F.col("novel"),
                )
            ).alias("ingest_class", "n_docs")
        )
        # the oracle GROUP BY emits only classes that occur; an all-
        # null batch also yields NULL sums — drop both the same way
        .filter(F.col("n_docs") > 0)
        .select("ingest_class", F.col("n_docs").cast("long").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# q225: embedding-health audit (norms + isotropy per label)
# ---------------------------------------------------------------------------


@_q(
    "q225_embedding_health",
    """
    WITH d AS (
      SELECT vec_id, label, u.i AS pos, embedding[u.i]::DOUBLE AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)
    ),
    norms AS (
      SELECT vec_id, label, sqrt(sum(v * v)) AS nrm
      FROM d GROUP BY vec_id, label
    ),
    unitm AS (
      SELECT d.label, d.pos, avg(d.v / n.nrm) AS m
      FROM d JOIN norms n USING (vec_id)
      WHERE n.nrm > 0
      GROUP BY d.label, d.pos
    ),
    iso AS (SELECT label, sum(m * m) AS iso FROM unitm GROUP BY label)
    SELECT n.label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           floor(avg(n.nrm) * 1000000 + 0.5) / 1000000 AS avg_norm,
           floor(min(i.iso) * 1000000 + 0.5) / 1000000 AS isotropy
    FROM norms n JOIN iso i USING (label)
    GROUP BY n.label
    """,
)
def q225_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space health per label: average vector norm (a norm
    collapse or explosion is the first symptom of a bad encoder
    export) and ISOTROPY — the squared norm of the mean unit vector,
    0 for a perfectly spread label, 1 for a label collapsed onto one
    direction (high values make cosine retrieval degenerate; the
    check run before trusting an embedding drop). Scale shape: one
    position-explode into per-vector norm partials, a (label, pos)
    conditional-mean agg (labels x dims exchange rows, the q209
    shape), and a labels-sized reduce."""
    emb = _t(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "vf")
    ).select("vec_id", "label", "pos", F.col("vf").cast("double").alias("v"))
    norms = d.groupBy("vec_id", "label").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nrm")
    )
    unitm = (
        d.join(norms.select("vec_id", "nrm"), "vec_id")
        .filter(F.col("nrm") > 0)
        .groupBy("label", "pos")
        .agg(F.avg(F.col("v") / F.col("nrm")).alias("m"))
    )
    iso = unitm.groupBy("label").agg(F.sum(F.col("m") * F.col("m")).alias("iso"))
    return (
        norms.join(iso, "label")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            round_half_up(F.avg("nrm"), 6).alias("avg_norm"),
            round_half_up(F.min("iso"), 6).alias("isotropy"),
        )
    )


# ---------------------------------------------------------------------------
# q226: effective (post-dedup) token budget per source
# ---------------------------------------------------------------------------


@_q(
    "q226_effective_tokens",
    f"""
    WITH h AS (
      SELECT doc_id, source, md5(text) AS hh,
             len({DUCK_TOKENS.format(t='text')}) AS n_tokens
      FROM documents
    ),
    surv AS (SELECT hh, min(doc_id) AS keep_id FROM h GROUP BY hh)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
           CAST(sum(CASE WHEN doc_id = keep_id THEN n_tokens ELSE 0 END) AS BIGINT)
             AS effective_tokens
    FROM h JOIN surv USING (hh)
    GROUP BY source
    """,
)
def q226_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The token budget a mixture planner actually gets: per source,
    raw tokens vs EFFECTIVE tokens after exact dedup (min-doc-id
    survivor per content hash; a cross-source duplicate credits only
    the survivor's source — the accounting that stops two sources
    from both claiming the same text). One hash partial-agg + a
    hash-keyed join; tokens counted map-side."""
    from batch_process_spark.operators.dedup import tokens_col

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5("text").alias("hh"),
        text.token_count_ws("text").alias("n_tokens"),
    )
    surv = docs.groupBy("hh").agg(F.min("doc_id").alias("keep_id"))
    return (
        docs.join(surv, "hh")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("raw_tokens"),
            F.sum(
                F.when(F.col("doc_id") == F.col("keep_id"), F.col("n_tokens"))
                .otherwise(F.lit(0))
            ).cast("long").alias("effective_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# q227: PII incidence per source (compliance scan)
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"


@_q(
    "q227_pii_incidence",
    f"""
    WITH synth AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 3 = 0
                  THEN concat(text, ' contact user', doc_id,
                              '@example.com ip 10.0.0.', doc_id % 255)
                  ELSE text END AS t
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN regexp_matches(t, '{_PII_EMAIL}') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_email,
           CAST(sum(CASE WHEN regexp_matches(t, '{_PII_IPV4}') THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ipv4,
           floor(sum(CASE WHEN regexp_matches(t, '{_PII_EMAIL}')
                            OR regexp_matches(t, '{_PII_IPV4}')
                          THEN 1 ELSE 0 END)::DOUBLE / count(*)
                 * 1000000 + 0.5) / 1000000 AS pii_rate
    FROM synth GROUP BY source
    """,
)
def q227_pii_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compliance scan: per source, how many documents carry an email
    or IPv4 (PII planted on every third doc, as in q59 — the raw
    corpus is synthetic and PII-free) and the combined incidence rate
    — the per-source view that decides which sources need the q59
    redaction pass before release. Map-side regex booleans (the
    RE2/Java-portable q59 patterns) into a source-sized agg."""
    docs = _t(spark, sf_dir, "documents")
    t = F.when(
        F.col("doc_id") % 3 == 0,
        # coalesce: DuckDB's concat SKIPS NULL args while Spark's
        # returns NULL — a NULL text row would otherwise lose its
        # planted PII Spark-side only and desync the oracle
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com ip 10.0.0."),
            F.col("doc_id") % 255,
        ),
    ).otherwise(F.col("text"))
    synth = docs.select("source", t.alias("t"))
    has_email = F.col("t").rlike(_PII_EMAIL)
    has_ipv4 = F.col("t").rlike(_PII_IPV4)
    return synth.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(has_email.cast("long")).alias("n_email"),
        F.sum(has_ipv4.cast("long")).alias("n_ipv4"),
        round_half_up(
            F.sum((has_email | has_ipv4).cast("long")) / F.count(F.lit(1)), 6
        ).alias("pii_rate"),
    )


# ---------------------------------------------------------------------------
# q228: LSH tuning planner (expected candidate recall per band config)
# ---------------------------------------------------------------------------

_LSH_CONFIGS = [(2, 8), (4, 4), (8, 2)]  # (bands, rows) at 16 hashes


def _q228_oracle() -> str:
    from batch_process_spark.queries_ext import DUCK_TOKENS as _DT  # noqa: F401

    pair_sql = """
      SELECT round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                   (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6) AS j
      FROM d a JOIN d b ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.grams, b.grams))::DOUBLE /
            (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.3
    """
    rows = "\n      UNION ALL\n".join(
        f"SELECT {b} AS bands, {r} AS rows_per_band,"
        f" CAST(count(*) AS BIGINT) AS n_pairs,"
        f" floor(avg(1.0 - pow(1.0 - pow(j, {r}), {b})) * 1000000 + 0.5) / 1000000"
        f" AS expected_recall FROM pairs"
        for b, r in _LSH_CONFIGS
    )
    return f"""
    WITH d AS (
      SELECT doc_id, lang, n_chars,
             list_distinct({DUCK_TOKENS.format(t='text')}) AS grams
      FROM documents
    ),
    pairs AS ({pair_sql})
    {rows}
    """


@_q("q228_lsh_tuning_curve", _q228_oracle())
def q228_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Design-the-LSH planner: for each candidate banding of a
    16-hash MinHash signature, the EXPECTED candidate recall
    1-(1-J^r)^b averaged over an observed similar-pair sample (q19's
    blocked exact-Jaccard pairs at J>=0.3) — the S-curve evaluated
    against THIS corpus's actual similarity distribution, which is
    what picks bands=4 over the alternatives before paying for a full
    dedup run. Pure arithmetic over the bounded pair sample; the only
    corpus-scale work is q19's blocked pair generation (never
    quadratic)."""
    from batch_process_spark.operators import dedup

    pairs = dedup.blocked_jaccard_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        block_cols=["lang", "n_chars"], threshold=0.3,
    ).select(F.col("jaccard_sim").alias("j"))
    outs = []
    for b, r in _LSH_CONFIGS:
        outs.append(
            pairs.agg(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                F.count(F.lit(1)).alias("n_pairs"),
                round_half_up(
                    F.avg(
                        1.0 - F.pow(1.0 - F.pow(F.col("j"), F.lit(r)), F.lit(b))
                    ),
                    6,
                ).alias("expected_recall"),
            ).select("bands", "rows_per_band", "n_pairs", "expected_recall")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out
