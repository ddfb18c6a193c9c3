"""Product quantization (PQ) — codebook training, encoding, and
asymmetric-distance (ADC) search over embedding columns.

The missing piece between q159's scalar quantization (4x smaller,
still O(d) floats per distance) and the IVF coarse index
(`similarity.py`): PQ splits each d-dim vector into ``m`` subvectors
and replaces each with the id of its nearest per-subspace centroid —
64 float32 = 256 B becomes ``m`` small codes (4 B at m=4/k<=256), a
64x storage cut, and query-time distances become ``m`` table lookups
instead of d multiplies (Jegou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011 — public literature). IVF + PQ
is the standard trillion-vector layout (FAISS IVFPQ): the coarse
index prunes partitions, PQ makes the residual scan cheap.

Everything here is deterministic so a SQL oracle can replay it
bit-for-bit (the q103 kmeans discipline): codebook init is the ``k``
LOWEST vector ids' subvectors, Lloyd iterations are a fixed count,
argmin ties break to the lowest centroid id, and float32 elements are
cast to double before any arithmetic (exact).

100 TB shape:

- training joins the corpus' position-exploded frame to a (m x k x
  subdim)-row codebook frame — NOT broadcast-hinted: AQE broadcasts
  it while it fits and degrades to a shuffle join for huge m*k rather
  than OOMing (same rationale as q103);
- centroid recompute is a (sub, cid, spos) partial agg — the exchange
  carries codebook-sized partials per task, never raw vectors;
- encoding is the same assign step: one partial-agg exchange of
  (vec_id, sub) groups, output m rows (one small code each) per
  vector;
- ADC scoring joins the codes frame to a BROADCAST query LUT
  (queries x m x k rows — bounded by the query batch, independent of
  corpus size) and partial-aggs to (query, vec) sums: the corpus side
  is map-side until the final (query_id, vec_id) exchange, which
  carries one 8-byte partial per (query, vector). A serving deployment
  would inline the LUT as a literal map and skip even that exchange;
  the join form is kept here because the oracle mirrors it row-for-row.

Reference parity: beyond the reference's surface (its analytics stop
at pandas group-bys, `utils/adapters/df_helpers.py`); this belongs to
the north-star similarity-search family (SURVEY §7 M6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def explode_subvectors(
    df: DataFrame,
    subdim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Position-explode ``vec_col`` into (id, sub, spos, v) rows.

    ``sub`` = subspace index (pos // subdim), ``spos`` = position
    within the subspace. Elements are cast float->double up front so
    every downstream sum sees the exact same doubles as the oracle.
    """
    return df.select(
        F.col(id_col),
        F.posexplode(vec_col).alias("pos", "vf"),
    ).select(
        id_col,
        (F.col("pos") / subdim).cast("int").alias("sub"),
        (F.col("pos") % subdim).alias("spos"),
        F.col("vf").cast("double").alias("v"),
    )


def _assign(dims: DataFrame, codebook: DataFrame, keep_dist: bool = False) -> DataFrame:
    """Nearest centroid per (vector, subspace); ties -> lowest cid.

    One partial-agg exchange on (id, sub, cid); the argmin window
    partitions by (id, sub) — k rows per group, never global.
    """
    id_col = dims.columns[0]
    dist = (
        dims.join(codebook, ["sub", "spos"])
        .groupBy(id_col, "sub", "cid")
        .agg(F.sum((F.col("v") - F.col("c")) ** 2).alias("dist"))
    )
    w = Window.partitionBy(id_col, "sub").orderBy("dist", "cid")
    picked = dist.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    cols = [id_col, "sub", "cid"] + (["dist"] if keep_dist else [])
    return picked.select(*cols)


def pq_train(
    df: DataFrame,
    subdim: int,
    k: int = 4,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fused: bool = False,
) -> DataFrame:
    """Train per-subspace codebooks: (sub, cid, spos, c) rows.

    Deterministic Lloyd: init = the ``k`` lowest ACTUAL ids' subvectors
    (ordered limit, not an id-range filter — ids need not start at 0;
    the q103 convention), then ``iters`` assign+recompute rounds. A
    subspace cluster that loses all members simply disappears from the
    recompute — deterministically in any engine, so the oracle agrees.
    ``cid`` stays the init vector's id (stable, oracle-friendly); a
    storage layer wanting dense byte codes can dense-rank it after.

    ``fused=True`` swaps the join-formulation assign (which fans out
    N x d x k rows through the agg — the oracle-replicable shape, fine
    at oracle scale) for the Arrow BLAS kernel: each round is one
    map-only encode plus a 1:1 join back to the exploded frame for the
    (sub, cid, spos) mean — the shape that trains k=256 codebooks over
    a real corpus. Same codes either way (test-pinned)."""
    dims = explode_subvectors(df, subdim, id_col, vec_col)
    init = df.select(id_col).orderBy(id_col).limit(k)
    codebook = dims.join(init, id_col).select(
        "sub", F.col(id_col).alias("cid"), "spos", F.col("v").alias("c")
    )
    for _ in range(iters):
        if fused:
            assigned = pq_encode_fused(df, codebook, subdim, id_col, vec_col).select(
                id_col, F.posexplode("codes").alias("sub", "cid")
            )
        else:
            assigned = _assign(dims, codebook)
        codebook = (
            dims.join(assigned, [id_col, "sub"])
            .groupBy("sub", "cid", "spos")
            .agg(F.avg("v").alias("c"))
        )
    return codebook


def pq_encode(
    df: DataFrame,
    codebook: DataFrame,
    subdim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_dist: bool = False,
) -> DataFrame:
    """Encode vectors against a trained codebook: (id, sub, cid) rows,
    plus the per-subspace squared reconstruction error with
    ``keep_dist`` (summing it over ``sub`` gives the vector's total
    PQ reconstruction error — the compression-quality metric)."""
    dims = explode_subvectors(df, subdim, id_col, vec_col)
    return _assign(dims, codebook, keep_dist=keep_dist)


def pq_adc_scores(
    queries: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    subdim: int,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance scores: (query_id, vec_id, adc) where
    ``adc`` approximates ||q - x||^2 as the sum over subspaces of the
    exact squared distance from q's subvector to x's assigned
    centroid (query side exact, corpus side quantized — "asymmetric").

    The LUT (queries x m x k rows) is built with one tiny agg and
    BROADCAST into the codes join; the corpus-side partial agg reduces
    to one 8-byte sum per (query, vector) before the exchange.
    """
    qdims = explode_subvectors(queries, subdim, query_id_col, vec_col)
    lut = (
        qdims.join(codebook, ["sub", "spos"])
        .groupBy(query_id_col, "sub", "cid")
        .agg(F.sum((F.col("v") - F.col("c")) ** 2).alias("l"))
    )
    return (
        codes.join(F.broadcast(lut), ["sub", "cid"])
        .groupBy(query_id_col, id_col)
        .agg(F.sum("l").alias("adc"))
    )


# ---------------------------------------------------------------------------
# Fused Arrow kernels — the production path (the oracle-replicable join
# formulation above fans out N x d x k rows through the assignment agg;
# these keep the same semantics with one BLAS pass per batch and ZERO
# shuffle on the corpus side — the minhash fused-kernel discipline).
# ---------------------------------------------------------------------------


def _codebook_arrays(codebook: DataFrame, subdim: int):
    """Collect a trained codebook (bounded: m x k x subdim rows) into
    per-subspace numpy arrays: (m, sorted cid list per sub, centroid
    matrix per sub ordered by cid). Sorting by cid makes numpy argmin's
    first-minimum == the join formulation's lowest-cid tie-break."""
    import numpy as np

    subs: dict = {}
    for r in codebook.collect():
        subs.setdefault(r["sub"], {}).setdefault(r["cid"], {})[r["spos"]] = r["c"]
    m = max(subs) + 1
    cids = {s: sorted(subs[s]) for s in subs}
    for s in subs:
        for c in cids[s]:
            if len(subs[s][c]) != subdim:
                # the join formulation silently tolerates a ragged last
                # subspace (dim % subdim != 0); the dense kernels cannot
                # — name the real constraint instead of a KeyError
                raise ValueError(
                    f"codebook subspace {s} centroid {c} has "
                    f"{len(subs[s][c])} positions, expected subdim={subdim} "
                    "— the fused PQ kernels require dim % subdim == 0"
                )
    cent = {
        s: np.array([[subs[s][c][p] for p in range(subdim)] for c in cids[s]])
        for s in subs
    }
    return m, cids, cent


def pq_encode_fused(
    df: DataFrame,
    codebook: DataFrame,
    subdim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow-kernel twin of ``pq_encode``: (id, codes array<long>) with
    codes[sub] = assigned cid. Map-only — the codebook rides the task
    closure (m*k*subdim doubles, ~131 kB at m=16/k=256/sub=4), each
    batch is one (n x subdim) @ (subdim x k) BLAS pass per subspace,
    and NOTHING shuffles. This is the 100 TB encode plan: scan ->
    project -> write."""
    import numpy as np
    import pandas as pd

    m, cids, cent = _codebook_arrays(codebook, subdim)
    cid_arr = {s: np.asarray(cids[s], dtype=np.int64) for s in cids}

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            out = np.empty((len(pdf), m), dtype=np.int64)
            for s in range(m):
                Xa = X[:, s * subdim : (s + 1) * subdim]
                C = cent[s]
                # EXPLICIT sum of squared diffs, one centroid at a time
                # (vectorized over rows) — NOT the expanded
                # |c|^2 - 2xc BLAS form: on an exact real-arithmetic
                # tie the explicit form's terms pair-equal between the
                # two centroids, so the sums are bit-equal and the
                # argmin's first-minimum == the join/SQL formulation's
                # lowest-cid tie-break; the expanded form loses that to
                # cancellation and could desync codes from the oracle.
                d = np.empty((len(pdf), C.shape[0]))
                for j in range(C.shape[0]):
                    diff = Xa - C[j]
                    d[:, j] = np.einsum("ij,ij->i", diff, diff)
                out[:, s] = cid_arr[s][d.argmin(axis=1)]
            yield pd.DataFrame({id_col: pdf[id_col], "codes": list(out)})

    return df.mapInPandas(kernel, schema=f"{id_col} long, codes array<long>")


# Hard bound on the query frames the PQ/ADC entry points will collect to
# the driver.  Mirrors similarity.brute_force_topk's guard: the limit rides
# the collect itself (no extra probe job) and one row past the cap is
# enough to detect overflow instead of silently OOMing the driver.
MAX_PQ_QUERIES = 10_000


def _guarded_query_rows(queries: DataFrame, cols: list, what: str):
    rows = queries.select(*cols).limit(MAX_PQ_QUERIES + 1).collect()
    if len(rows) > MAX_PQ_QUERIES:
        raise ValueError(
            f"{what} collects the queries frame to the driver; got "
            f">{MAX_PQ_QUERIES} query rows. Batch the query set (e.g. "
            "stream_topk_serving micro-batches) or use the distributed "
            "lsh_topk / ivf_topk paths for corpus-sized query sets."
        )
    return rows


def _query_luts(queries: DataFrame, codebook: DataFrame, subdim: int,
                query_id_col: str, vec_col: str,
                what: str = "pq_adc_topk_fused"):
    """(m, sorted-cid arrays, qids, per-sub LUT list) for a bounded
    query batch: luts[s][q, j] = |q_s - c_{s,j}|^2 with j in sorted-cid
    order. A LIST per subspace, not one stacked array — subspaces may
    keep different numbers of surviving clusters (empty-cluster drop),
    so the per-sub k is ragged. Collect is guarded (MAX_PQ_QUERIES);
    ``what`` names the caller's entry point in the guard error."""
    import numpy as np

    m, cids, cent = _codebook_arrays(codebook, subdim)
    sorted_cids = {s: np.asarray(cids[s], dtype=np.int64) for s in cids}
    qrows = _guarded_query_rows(queries, [query_id_col, vec_col], what)
    if not qrows:
        return m, sorted_cids, np.empty(0, dtype=np.int64), None
    qids = np.asarray([r[query_id_col] for r in qrows], dtype=np.int64)
    Qm = np.array([np.asarray(r[vec_col], dtype=np.float64) for r in qrows])
    luts = [
        ((Qm[:, s * subdim : (s + 1) * subdim][:, None, :] - cent[s][None, :, :]) ** 2).sum(-1)
        for s in range(m)
    ]
    return m, sorted_cids, qids, luts


def pq_adc_topk_fused(
    codes_df: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    subdim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_scores: bool = False,
    probe_map: dict | None = None,
    what: str = "pq_adc_topk_fused",
    n_queries_out: dict | None = None,
) -> DataFrame:
    """ADC top-k over a fused codes frame (id, codes): per-partition
    top-k per query via LUT lookups (m additions per vector), then an
    exact global merge — the ``brute_force_topk`` plan shape, but the
    scan touches m int64 codes per vector instead of d floats. Only
    partitions x Q x k (query_id, vec_id, adc) rows ever shuffle.
    Returns (query_id, vec_id, adc) with EXACTLY k rows per query
    (ties on adc break to the lowest vec_id). ``round_scores`` rounds
    every distance to 6 decimals BEFORE the cut (half-up-via-floor,
    the repo idiom), making the candidate set bit-replicable by a SQL
    oracle — FP sum-order drift (1e-15) can then never flip a cut
    boundary between engines.

    ``probe_map`` (query_id -> iterable of centroid ids) turns on the
    IVFPQ masked path: ``codes_df`` must then carry a ``centroid_id``
    column, and each query accumulates ADC ONLY over the rows whose
    cell it probes — compute proportional to probed mass, never the
    full rows x queries matrix."""
    import numpy as np
    import pandas as pd

    m, sorted_cids, qids, luts = _query_luts(
        queries, codebook, subdim, query_id_col, vec_col, what=what
    )
    if n_queries_out is not None:
        # exact batch size for the caller's rerank broadcast gate —
        # the guarded collect above already paid for it
        n_queries_out["n"] = int(len(qids))
    if luts is None:
        return codes_df.sparkSession.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, adc double"
        )
    probed_by_q = None
    if probe_map is not None:
        probed_by_q = [
            np.asarray(sorted(probe_map.get(int(q), ())), dtype=np.int64)
            for q in qids
        ]

    def kernel(it):
        for pdf in it:
            if not len(pdf):
                continue
            C = np.array([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            ids = pdf[id_col].to_numpy()
            cells = pdf["centroid_id"].to_numpy() if probed_by_q is not None else None
            dense = np.empty_like(C)
            for s in range(m):
                dense[:, s] = np.searchsorted(sorted_cids[s], C[:, s])
            out_q, out_id, out_adc = [], [], []
            for j in range(len(qids)):
                if probed_by_q is not None:
                    # masked path: gather ONLY this query's probed rows
                    # before any arithmetic — compute proportional to
                    # probed mass, never the full rows x queries grid
                    rows = np.flatnonzero(np.isin(cells, probed_by_q[j]))
                    if not len(rows):
                        continue
                else:
                    rows = np.arange(len(pdf))
                acc = np.zeros(len(rows))
                for s in range(m):
                    acc += luts[s][j][dense[rows, s]]
                if round_scores:
                    acc = np.floor(acc * 1000000 + 0.5) / 1000000
                kk = min(k, len(rows))
                # lexsort, not argpartition: ties at the kk boundary
                # must break to the lowest vec_id HERE too, or the
                # partition-local cut could drop the row the global
                # (adc, id) merge would have kept
                sel = np.lexsort((ids[rows], acc))[:kk]
                out_q.extend([qids[j]] * kk)
                out_id.extend(ids[rows][sel])
                out_adc.extend(acc[sel])
            if out_q:
                yield pd.DataFrame(
                    {query_id_col: out_q, id_col: out_id, "adc": out_adc}
                )

    partial = codes_df.mapInPandas(
        kernel, schema=f"{query_id_col} long, {id_col} long, adc double"
    )
    w = Window.partitionBy(query_id_col).orderBy("adc", id_col)
    return (
        partial.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def make_adc_scorer(codebook: DataFrame, codes: DataFrame, subdim: int,
                    rerank_factor: int = 5):
    """Drop-in scorer for ``stream_topk_serving`` (same ``(corpus,
    queries, **kw)`` signature as ``brute_force_topk``/``ivf_topk``):
    retrieve-with-ADC, rerank-with-float — the standard PQ serving
    deployment. Each batch's queries preselect ``rerank_factor * k``
    candidates per query by ADC over the (persisted) codes — m
    additions per corpus vector, never a d-dim multiply — then only
    the candidate rows join back to the float corpus for an exact
    cosine rerank. Per-batch cost against a 100 TB corpus: one scan of
    the m-bytes-per-vector codes frame plus an id-equi-join touching
    queries x rerank_factor x k float vectors.

    ``codes`` is the FUSED frame (id, codes array) from
    ``pq_encode_fused`` — the scorer runs the fused ADC kernel, so a
    serving batch costs one map-only pass over the m-bytes-per-vector
    codes plus an id-equi-join on queries x rerank_factor x k float
    vectors; nothing corpus-sized ever fans out.

    Output schema matches ``brute_force_topk``: (query_id, vec_id,
    score, rank) with the cosine rounded to 6 decimals, rank ties to
    the lowest id. With ``rerank_factor * k >= |corpus|`` the result
    is exactly brute force (the equivalence the tests pin)."""

    def scorer(
        corpus: DataFrame,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        query_id_col: str = "query_id",
        k: int = 10,
    ) -> DataFrame:
        # rounded candidate cut: the serving answer becomes fully
        # engine-replicable (q214's oracle re-derives the exact set)
        nq: dict = {}
        cand = pq_adc_topk_fused(
            codes, queries, codebook, subdim, k=rerank_factor * k,
            id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
            round_scores=True, what="make_adc_scorer", n_queries_out=nq,
        ).select(query_id_col, id_col)
        return _exact_rerank(
            cand, corpus, queries, k,
            id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
            cand_rows_bound=nq.get("n", MAX_PQ_QUERIES) * rerank_factor * k,
        )

    return scorer


#: Conservative broadcast-relation bytes per (query_id, vec_id)
#: candidate row: 16 B of longs + hash-relation overhead.
_CAND_ROW_BYTES = 64


def _exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    cand_rows_bound: int | None = None,
) -> DataFrame:
    """The shared float-rerank tail of every compressed retrieval path:
    join the bounded (query, candidate-id) frame back to the float
    corpus, score by exact cosine (rounded to 6, the q25 idiom), keep
    the top ``k`` per query with ties to the lowest id. Output is the
    ``brute_force_topk`` schema: (query_id, vec_id, score, rank).

    ``cand`` is EXPLICITLY broadcast: every caller bounds it at
    queries x rerank-depth rows by construction (a top-k output), but
    Catalyst's size estimate for it derives from the corpus-sized
    codes frame it was selected from — past the auto-broadcast
    threshold the corpus join silently flips to a sort-merge that
    shuffles the float corpus (measured: 1.6 MB -> 525 MB per serving
    batch between 262k and 1M vectors; BASELINE §5u). The hint
    pins the map-only corpus scan at any corpus size.

    ``cand_rows_bound`` (VERDICT r13 item 4): callers that know a hard
    row bound for ``cand`` (|Q| x rerank depth — both pq entry points
    do, their query collects are MAX_PQ_QUERIES-guarded) pass it so a
    DEGENERATE batch (huge query set x rerank depth ~ |corpus|) falls
    back to a shuffled-hash join keyed on ``id_col`` instead of dying
    at the 8 GB broadcast cap. Plan-stat gating (joins.gated_broadcast)
    is the WRONG tool here: cand's Catalyst estimate is corpus-sized
    (the r13 cliff), so a stats gate would push every big-corpus batch
    onto the shuffle path — exactly the regression the broadcast
    fixes. The bound gate fails OPEN to broadcast when no bound is
    known (current callers always pass one)."""
    from batch_process_spark.operators import joins
    from batch_process_spark.operators.similarity import cosine

    cand_side = F.broadcast(cand)
    if (
        cand_rows_bound is not None
        and cand_rows_bound * _CAND_ROW_BYTES > joins.BROADCAST_CAP_BYTES
    ):
        # degenerate regime: correctness over speed — shuffle both
        # sides on id and build the hash on the (still smaller) cand
        cand_side = cand.hint("shuffle_hash")
    q = queries.select(query_id_col, F.col(vec_col).alias("__qe"))
    scored = (
        cand_side.join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col(vec_col), F.col("__qe")), 6).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), id_col)
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


# ---------------------------------------------------------------------------
# IVFPQ — coarse cell pruning (IVF) composed with compressed scoring
# (PQ/ADC): the standard trillion-vector layout. The coarse index cuts
# the scan to the probed cells' mass; within them the scan touches m
# codes per vector; only the surviving candidates see float data again
# (exact rerank).
# ---------------------------------------------------------------------------


def ivfpq_index(
    corpus: DataFrame,
    subdim: int,
    k_code: int = 256,
    iters: int = 1,
    n_centroids: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Build the composed index: returns (assigned_codes, centroids,
    codebook) where ``assigned_codes`` is (id, centroid_id, codes) —
    in a deployment written ``partitionBy("centroid_id")`` (the
    ``ivf_write`` layout) so query-time probing prunes at the file
    listing. One shuffle at build time (the codes-to-cell join);
    training and encoding are the fused map-only kernels."""
    from batch_process_spark.operators.similarity import ivf_index

    assigned, cents = ivf_index(
        corpus, id_col=id_col, vec_col=vec_col, n_centroids=n_centroids, seed=seed
    )
    cb = pq_train(
        corpus, subdim, k=k_code, iters=iters,
        id_col=id_col, vec_col=vec_col, fused=True,
    )
    codes = pq_encode_fused(corpus, cb, subdim, id_col=id_col, vec_col=vec_col)
    assigned_codes = assigned.select(id_col, "centroid_id").join(codes, id_col)
    return assigned_codes, cents, cb


def ivfpq_write(
    assigned_codes: DataFrame,
    path: str,
    centroids: list,
    codebook: DataFrame,
    subdim: int,
    stats: dict | None = None,
    file_plan: dict[int, int] | str | None = "auto",
    id_col: str = "vec_id",
    target_file_mb: int = 128,
) -> None:
    """Persist the COMPLETE IVFPQ index: codes written
    ``partitionBy("centroid_id")`` (the ``ivf_write`` layout —
    query-time probes prune at the file listing) plus ONE tiny meta
    file carrying the coarse centroids, the auto-nprobe cell stats,
    the PQ codebook (m x k x subdim doubles — a few hundred kB at
    deployment sizes), and ``subdim``. A serving process restarts from
    ``ivfpq_read`` alone: no float-corpus rescan, no retrain.

    ``stats`` should be ``ivf_index_stats(float_assigned, centroids)``
    computed at index-build time (the codes frame carries no
    embeddings, so they cannot be derived later).

    ``file_plan`` (``similarity.cell_file_plan``) pre-coalesces the
    written layout — see ``ivf_write``. The default ``"auto"`` derives
    it from the stats (codes row ≈ id + m longs); the recluster path
    passes an explicit plan from the old index's measured density;
    ``None`` keeps the raw map-output layout."""
    from batch_process_spark.operators.similarity import _write_cells

    cb_rows = [
        [int(r["sub"]), int(r["cid"]), int(r["spos"]), float(r["c"])]
        for r in codebook.collect()  # bounded: m x k x subdim rows
    ]
    meta: dict = {
        "centroids": [[float(x) for x in c] for c in centroids],
        "pq": {"subdim": int(subdim), "codebook": cb_rows},
    }
    if stats is not None:
        meta["stats"] = stats
    dim = len(centroids[0]) if centroids else subdim
    m = max(dim // max(subdim, 1), 1)  # codes are array<long>, m entries
    _write_cells(assigned_codes, path, meta, m, file_plan, id_col, target_file_mb)


def codebook_frame(spark, meta: dict) -> DataFrame:
    """The codebook stored in an IVFPQ index's meta as a frame with the
    ``pq_train`` schema (sub, cid, spos, c)."""
    return spark.createDataFrame(
        [tuple(r) for r in meta["pq"]["codebook"]],
        "sub int, cid int, spos int, c double",
    )


def ivfpq_read(spark, path: str):
    """(assigned_codes, centroids, codebook, subdim, stats) from an
    ``ivfpq_write``-n index: the codes frame is the lazy partitioned
    scan, the codebook is rebuilt as a DataFrame with the
    ``pq_train`` schema, and ``stats`` (None if not persisted) feeds
    ``nprobe="auto"``. One tiny text-file read — no corpus I/O —
    then e.g.::

        codes, cents, cb, subdim, stats = ivfpq_read(spark, path)
        scorer = make_ivfpq_scorer(codes, cents, cb, subdim,
                                   nprobe="auto", stats=stats)
    """
    from batch_process_spark.operators.similarity import read_index_meta

    meta = read_index_meta(spark, path)
    if "pq" not in meta:
        raise ValueError(
            f"index at {path!r} has no PQ metadata — it was written by "
            "ivf_write, not ivfpq_write; use ivf_read_index instead"
        )
    return (
        spark.read.parquet(path),
        meta["centroids"],
        codebook_frame(spark, meta),
        meta["pq"]["subdim"],
        meta.get("stats"),
    )


def ivfpq_topk(
    assigned_codes: DataFrame,
    centroids: list,
    codebook: DataFrame,
    queries: DataFrame,
    subdim: int,
    corpus: DataFrame,
    k: int = 10,
    rerank_factor: int = 5,
    nprobe: int | str = 4,
    stats: dict | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    max_fraction: float = 0.125,
    auto_margin_scale: float = 2.0,
) -> DataFrame:
    """IVFPQ search: probe cells per query (``ivf_probe_sets`` — fixed
    or stats-calibrated ``nprobe="auto"``), ADC-score ONLY rows whose
    cell some query probes (one masked-LUT Arrow pass over the pruned
    codes), keep ``rerank_factor * k`` candidates per query, rerank
    them exactly against the float corpus. Output matches
    ``ivf_topk``/``brute_force_topk``: (query_id, vec_id, score,
    rank), cosine rounded to 6, ties to the lowest id — a drop-in
    serving scorer via a closure, like ``make_adc_scorer``.

    100 TB cost accounting: the codes scan reads probed-mass x m
    bytes (partition-pruned at the file listing under the
    ``ivf_write`` layout); the candidate exchange carries partitions
    x Q x R rows; the float corpus is touched only by the bounded
    rerank id-join."""
    from batch_process_spark.operators.similarity import ivf_probe_sets

    if nprobe == "auto" and stats is None:
        # the codes frame carries no embeddings, so cell stats cannot be
        # derived here — require them from the float-assignment side
        raise ValueError(
            "ivfpq_topk(nprobe='auto') needs stats=ivf_index_stats(...) "
            "computed on the float assignment at index-build time — or "
            "loaded from a stored index via ivfpq_read (ivfpq_write "
            "persists them under path/_ivf_meta)"
        )
    probes = ivf_probe_sets(
        centroids,
        queries,
        vec_col=vec_col,
        query_id_col=query_id_col,
        k=k,
        nprobe=nprobe,
        stats=stats,
        max_fraction=max_fraction,
        auto_margin_scale=auto_margin_scale,
    )
    # bounded: Q x probed-cells rows — but Q itself must be bounded, so the
    # guard caps at MAX_PQ_QUERIES x probed cells (cells/query <= len(centroids))
    probe_cap = MAX_PQ_QUERIES * max(1, len(centroids))
    probe_rows = probes.select(query_id_col, "centroid_id").limit(probe_cap + 1).collect()
    if len(probe_rows) > probe_cap:
        raise ValueError(
            f"ivfpq_topk collects the probe set to the driver; got "
            f">{probe_cap} (query, cell) rows — the queries frame exceeds "
            f"{MAX_PQ_QUERIES} rows. Batch the query set or use the "
            "distributed ivf_topk path."
        )
    probe_map: dict = {}
    for r in probe_rows:
        probe_map.setdefault(r[query_id_col], set()).add(r["centroid_id"])
    all_cells = sorted({c for s in probe_map.values() for c in s})
    if not all_cells:
        return assigned_codes.sparkSession.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, score double, rank int"
        )

    # the isin filter lands in PartitionFilters under the ivf_write
    # layout (plan-tested); the masked fused kernel then scores each
    # query only over its own probed rows
    pruned = assigned_codes.filter(F.col("centroid_id").isin(all_cells))
    cand = pq_adc_topk_fused(
        pruned, queries, codebook, subdim, k=rerank_factor * k,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        probe_map=probe_map, what="ivfpq_topk",
    ).select(query_id_col, id_col)
    return _exact_rerank(
        cand, corpus, queries, k,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        # probe_map keys = the queries that probe at least one cell —
        # only they can emit candidates, so this bound is exact
        cand_rows_bound=len(probe_map) * rerank_factor * k,
    )


def make_ivfpq_scorer(
    assigned_codes: DataFrame,
    centroids: list,
    codebook: DataFrame,
    subdim: int,
    rerank_factor: int = 5,
    nprobe: int | str = 4,
    stats: dict | None = None,
):
    """Drop-in serving scorer (``stream_topk_serving`` signature) over
    a prebuilt IVFPQ index: each micro-batch probes cells, ADC-scans
    only the probed mass, and exact-reranks against the ``corpus``
    argument the serving loop passes. The full composition of
    ``make_adc_scorer`` with coarse pruning — the per-batch cost at
    100 TB is probed-mass x m bytes plus the bounded rerank join."""

    def scorer(
        corpus: DataFrame,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        query_id_col: str = "query_id",
        k: int = 10,
    ) -> DataFrame:
        return ivfpq_topk(
            assigned_codes, centroids, codebook, queries, subdim, corpus,
            k=k, rerank_factor=rerank_factor, nprobe=nprobe, stats=stats,
            id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        )

    return scorer


def make_stored_ivfpq_scorer(
    spark,
    path: str,
    rerank_factor: int = 5,
    nprobe: int | str = "auto",
):
    """Serving scorer bound to a STORED IVFPQ index path (the
    ``similarity.make_stored_ivf_scorer`` twin): every call re-reads
    the meta (centroids + stats + codebook, one tiny text file) and
    the partitioned codes scan, so ``ivf_append`` / ``ivf_delete`` /
    ``ivf_recluster`` / ``compact_index`` land in the NEXT micro-batch
    without restarting the stream. The exact rerank still runs against
    the ``corpus`` frame the serving loop passes — the float source of
    truth lives outside the codes index, so pass a corpus whose reads
    also refresh (a parquet path read, not a cached frame) if it
    mutates too."""

    def scorer(
        corpus: DataFrame,
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        query_id_col: str = "query_id",
        k: int = 10,
    ) -> DataFrame:
        codes, cents, cb, subdim, stats = ivfpq_read(spark, path)
        return ivfpq_topk(
            codes, cents, cb, queries, subdim, corpus,
            k=k, rerank_factor=rerank_factor, nprobe=nprobe, stats=stats,
            id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
        )

    return scorer


# ---------------------------------------------------------------------------
# Binary quantization — the 1-bit tier below PQ: sign-bit codes packed
# into 32-bit words (32x smaller than float32 at d=64), searched by
# Hamming distance (XOR + popcount — the cheapest first-pass filter in
# any vector stack). Integer-exact end to end, so the oracle needs no
# rounding discipline at all.
# ---------------------------------------------------------------------------


def sign_bit_words(vec_col: Column | str, dim: int, word_bits: int = 32):
    """Pack ``dim`` sign bits (element > 0) into ``ceil(dim/word_bits)``
    BIGINT words, least-significant bit first. 32-bit words by default:
    values stay < 2^32, so neither engine touches the BIGINT sign bit
    and the packing is plain exact integer arithmetic (bit * 2^j summed
    via a literal powers array — no shift builtins, whose column-arg
    support differs across engines)."""
    words = []
    for w in range((dim + word_bits - 1) // word_bits):
        lo = w * word_bits
        n = min(word_bits, dim - lo)
        # NULL elements and short vectors pack as 0-BITS, matching the
        # SQL twin's CASE ... ELSE 0 (without the coalesces, one NULL
        # element would collapse the whole word to NULL Spark-side and
        # desync the oracle)
        bits = F.transform(
            F.slice(vec_col, lo + 1, n),
            lambda x: F.coalesce((x > 0).cast("long"), F.lit(0)),
        )
        powers = F.array(*[F.lit(1 << j).cast("long") for j in range(n)])
        words.append(
            F.aggregate(
                F.zip_with(bits, powers, lambda b, p: F.coalesce(b, F.lit(0)) * p),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            )
        )
    return words


def hamming(a: Column, b: Column) -> Column:
    """Hamming distance between two packed words: popcount(xor)."""
    return F.bit_count(a.bitwiseXOR(b))
