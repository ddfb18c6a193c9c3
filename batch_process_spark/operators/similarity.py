"""Similarity search over embedding columns (array<float>).

Three tiers, trading recall for scale:

- **brute-force cosine top-k** — exact; queries broadcast, scores via
  JVM-side array expressions (``zip_with`` + ``aggregate``), top-k via
  window. Cost O(N·Q·d) but embarrassingly parallel: the corpus never
  shuffles, only the (tiny) per-query top-k heap does.
- **random-hyperplane LSH** — sign-bit buckets from fixed seeded
  hyperplanes; probe only matching buckets. Sub-linear candidate sets;
  recall tunable by bits/tables.
- **IVF (inverted file)** — KMeans coarse centroids; vectors partition
  by nearest centroid, queries probe ``nprobe`` nearest centroids.
  The scale path for 100 TB: the corpus is bucketed once (one shuffle)
  and each query touches a small fraction of partitions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product over two numeric arrays (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k per query.

    The scale-shaped plan: queries are collected (Q is small by
    definition) and closed over by an Arrow-batched ``mapInPandas``
    kernel that scores each corpus batch with one BLAS matmul and keeps
    a per-partition top-k per query. Only partitions x Q x k candidate
    rows ever shuffle; the global window merges them exactly (top-k of
    a union of per-partition top-ks == global top-k). Deterministic
    tie-break on corpus id. The corpus is never broadcast, never
    crossJoined, and scanned exactly once.
    """
    import numpy as np
    import pandas as pd

    from batch_process_spark.operators.dedup import ensure_parallelism

    # Guarded collect: Q must actually be small — a mistakenly-large
    # queries frame would otherwise OOM the driver silently. The limit
    # rides the collect itself (no separate probe job); one extra row
    # past the cap is enough to detect the overflow.
    max_queries = 10_000
    qrows = (
        queries.select(F.col(query_id_col), F.col(vec_col)).limit(max_queries + 1).collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"brute_force_topk collects the queries frame to the driver; got "
            f">{max_queries} query rows. For large query sets use lsh_topk / "
            "ivf_topk (bucketed, fully distributed) instead."
        )
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, score double, rank int"
        )
    qids = np.array([r[0] for r in qrows])
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)  # Q x d
    qnorm = np.linalg.norm(qmat, axis=1)  # Q

    c = corpus.select(F.col(id_col), F.col(vec_col))
    # Fan the corpus out across cores only when the scoring work is
    # worth a shuffle: a tiny corpus (one small parquet file) matmuls
    # in microseconds on one task, and the repartition exchange would
    # be the dominant cost. Plan-stats estimate — no job is run. At
    # scale the scan is already many partitions and ensure_parallelism
    # no-ops anyway; the skip only ever fires on trivially small work.
    try:
        est_bytes = int(c._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        est_bytes = None
    trivial = (
        est_bytes is not None
        and est_bytes < 8 * 1024 * 1024
        and est_bytes * len(qrows) < 128 * 1024 * 1024
    )
    if not trivial:
        c = ensure_parallelism(c)

    def score_batches(it):
        for pdf in it:
            ids = pdf[id_col].to_numpy()
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)  # N x d
            sims = (mat @ qmat.T) / (np.linalg.norm(mat, axis=1)[:, None] * qnorm[None, :])
            sims = np.round(sims, 6)
            out_q, out_id, out_s = [], [], []
            for qi in range(len(qids)):
                col = sims[:, qi]
                n = min(k, len(ids))
                # top-k by (score desc, id asc): lexsort on (-score, id).
                # NaN scores (zero-norm vectors) must sort FIRST to match
                # desc-order semantics in both Spark and DuckDB (NaN >
                # every double); -NaN is NaN which lexsort puts last, so
                # map it to -inf explicitly.
                key = np.where(np.isnan(col), -np.inf, -col)
                idx = np.lexsort((ids, key))[:n]
                out_q.extend([qids[qi]] * n)
                out_id.extend(ids[idx])
                out_s.extend(col[idx])
            yield pd.DataFrame({query_id_col: out_q, id_col: out_id, "score": out_s})

    schema = f"{query_id_col} long, {id_col} long, score double"
    local = c.mapInPandas(score_batches, schema=schema)
    # Merge the per-partition top-ks with ONE hash aggregate instead of
    # a window pass: the window form costs local Sort + WindowGroupLimit
    # + Exchange + Sort + Window (two sort passes over the candidates).
    # Here the candidates (<= partitions x Q x k rows) partial-aggregate
    # map-side into per-query lists, shuffle once on query_id, and the
    # final top-k is an array_sort + slice per query — all codegen'd
    # struct comparisons, no row sort. Struct order (-score, id) gives
    # score-desc with deterministic id-asc tie-break.
    # NaN-first under the ascending struct sort (parity with the window
    # form's desc(score) and the DuckDB oracle, where NaN sorts largest):
    # -NaN is NaN, which array_sort would put LAST — map it to -inf.
    neg = F.when(F.isnan("score"), F.lit(float("-inf"))).otherwise(-F.col("score"))
    cand = F.struct(
        neg.alias("neg"), F.col(id_col).alias("cid"), F.col("score").alias("s")
    )
    merged = (
        local.groupBy(query_id_col)
        .agg(F.slice(F.array_sort(F.collect_list(cand)), 1, k).alias("topk"))
        .select(query_id_col, F.posexplode("topk").alias("pos", "c"))
    )
    return merged.select(
        query_id_col,
        F.col("c.cid").alias(id_col),
        F.col("c.s").alias("score"),
        (F.col("pos") + 1).cast("int").alias("rank"),
    )


def _seeded_hyperplanes(dim: int, n_bits: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_bits, dim)).astype(float).tolist()


def lsh_bucket(vec_col: Column, hyperplanes: list[list[float]]) -> Column:
    """Sign-bit bucket key: one char per hyperplane ('1' if v·h > 0)."""
    bits = [
        F.when(dot(vec_col, F.array(*[F.lit(x) for x in h])) > 0, F.lit("1")).otherwise(F.lit("0"))
        for h in hyperplanes
    ]
    return F.concat(*bits)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_bits: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket.

    The corpus is bucketed map-side (no shuffle until the equi-join on
    bucket). With b bits the candidate set is ~N/2^b per query.
    """
    planes = _seeded_hyperplanes(dim, n_bits, seed)
    c = corpus.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(F.col(vec_col), planes).alias("bucket")
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    scored = c.join(F.broadcast(q), "bucket").withColumn(
        "score", F.round(cosine(F.col(vec_col), F.col("__qvec")), 6)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
):
    """Build an IVF coarse index: KMeans centroids + assigned corpus.

    Returns (assigned_df with ``centroid_id``, centroids list). The
    corpus is written partitioned by centroid in a real deployment so a
    query reads only probed partitions.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    ml_df = corpus.select(
        F.col(id_col), F.col(vec_col), array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    km = KMeans(k=n_centroids, seed=seed, maxIter=20, featuresCol="features", predictionCol="centroid_id")
    model = km.fit(ml_df)
    assigned = model.transform(ml_df).select(id_col, vec_col, "centroid_id")
    centroids = [c.tolist() for c in model.clusterCenters()]
    return assigned, centroids


def kmeans_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    max_rows: int = 1_000_000,
    iters: int = 20,
) -> list[list[float]]:
    """Train-only half of ``ivf_index``: fit KMeans on a BOUNDED frame
    and return the centroid list, assigning nothing. Used by
    ``ivf_recluster``'s sampled retrain — centroids train on a bounded
    sample while the full corpus re-assigns distributed
    (``ivf_assign``, argmin-exact), so the retrain wall stops scaling
    with the corpus.

    The fit runs DRIVER-SIDE in numpy (k-means++ init, Lloyd
    iterations, empty cells reseeded to the farthest point) — the
    FAISS coarse-quantizer pattern: train on a small sample locally,
    assign at scale distributed. Measured why: distributed
    ``pyspark.ml`` KMeans pays init + per-iteration job launches that
    DOMINATE at sample sizes (fit on a 16k sample took 24.9 s vs
    11.3 s on the full 262k corpus — more scheduler wall than math);
    the numpy fit on the same sample is milliseconds per iteration.
    ``max_rows`` bounds the driver collect (hard error above it —
    64-dim float64 at the default cap is ~0.5 GB)."""
    import numpy as np

    rows = corpus.select(F.col(vec_col).cast("array<double>")).limit(
        max_rows + 1
    ).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"kmeans_centroids trains driver-side: got > {max_rows} rows; "
            "pass a bounded sample (or raise max_rows deliberately)"
        )
    if not rows:
        raise ValueError(
            "kmeans_centroids: empty training sample (0 rows) — pass a "
            "non-empty corpus/sample"
        )
    x = np.asarray([r[0] for r in rows], dtype=np.float64)
    n, k = x.shape[0], min(n_centroids, x.shape[0])
    rng = np.random.default_rng(seed)

    # k-means++ seeding. Degenerate guard: when every remaining point
    # coincides with a chosen seed, d2 is all-zero and the D² weights
    # are undefined — fall back to uniform choice for the rest of the
    # seeds (Lloyd below then collapses/reseeds empty cells normally).
    cents = np.empty((k, x.shape[1]))
    cents[0] = x[rng.integers(n)]
    d2 = ((x - cents[0]) ** 2).sum(axis=1)
    for j in range(1, k):
        s = d2.sum()
        if s <= 0.0:
            cents[j] = x[rng.integers(n)]
            continue
        p = d2 / s
        cents[j] = x[rng.choice(n, p=p)]
        d2 = np.minimum(d2, ((x - cents[j]) ** 2).sum(axis=1))

    for _ in range(iters):
        dists = np.stack([((x - c) ** 2).sum(axis=1) for c in cents])
        assign = dists.argmin(axis=0)
        moved = 0.0
        for j in range(k):
            members = x[assign == j]
            if len(members) == 0:  # reseed an empty cell to the farthest point
                new = x[dists.min(axis=0).argmax()]
            else:
                new = members.mean(axis=0)
            moved += float(((cents[j] - new) ** 2).sum())
            cents[j] = new
        if moved < 1e-12:
            break
    return [c.tolist() for c in cents]


def ivf_index_stats(
    assigned: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
) -> dict:
    """Cell-occupancy statistics of an IVF index, computed in ONE tiny
    aggregation job (n_centroids output rows): per-cell sizes, the mean
    cell size, and the mean within-cell cosine distance (1 - cos(vec,
    own centroid)) — the index's intrinsic 'cell radius' scale that
    ``nprobe="auto"`` calibrates its probe margin from."""
    cent_arr = F.array(*[F.array(*[F.lit(x) for x in c]) for c in centroids])
    rows = (
        assigned.select(
            F.col("centroid_id"),
            (1 - cosine(F.col(vec_col), F.element_at(cent_arr, F.col("centroid_id") + 1))).alias(
                "__wd"
            ),
        )
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__wd").alias("wd"))
        .collect()
    )
    sizes = {r["centroid_id"]: r["n"] for r in rows}
    total = sum(sizes.values()) or 1
    return {
        "cell_sizes": sizes,
        "n_vectors": total,
        "mean_cell_size": total / max(len(sizes), 1),
        "mean_within_dist": sum(r["wd"] for r in rows) / total,
    }


def ivf_probe_sets(
    centroids: list[list[float]],
    queries: DataFrame,
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    nprobe: int | str = 4,
    stats: dict | None = None,
    assigned: DataFrame | None = None,
    max_fraction: float = 0.125,
    auto_margin_scale: float = 2.0,
) -> DataFrame:
    """The query-side probe plan: (query_id, __qvec, centroid_id) —
    one row per (query, probed cell). Shared by ``ivf_topk`` and the
    recall/cost probes (which join it against cell sizes to MEASURE
    the probed fraction instead of assuming nprobe/n_centroids).
    See ``ivf_topk`` for the ``nprobe`` semantics."""
    cent_arr = F.array(*[F.array(*[F.lit(x) for x in c]) for c in centroids])
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec"))
    q = q.withColumn(
        "__dists",
        F.transform(cent_arr, lambda c: -cosine(F.col("__qvec"), c)),
    )
    # rank centroids per query: argsort via array_position over sorted copy
    ranked = F.array_sort(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
            lambda i: F.struct(F.element_at("__dists", i + 1).alias("d"), i.alias("i")),
        )
    )
    if nprobe == "auto":
        import math

        if stats is None:
            if assigned is None:
                raise ValueError('nprobe="auto" needs stats= or assigned=')
            stats = ivf_index_stats(assigned, centroids, vec_col=vec_col)
        margin = stats["mean_within_dist"] * auto_margin_scale
        floor = max(1, math.ceil(3 * k / max(stats["mean_cell_size"], 1.0)))
        # probed-MASS bound, centered: the prefix is allowed to include
        # the budget-crossing cell (below), so the line sits half a
        # mean cell early — expected probed mass then lands ON the
        # max_fraction target instead of half a cell over it
        budget = int(max_fraction * stats["n_vectors"] - stats["mean_cell_size"] / 2)
        sizes_arr = F.array(
            *[F.lit(int(stats["cell_sizes"].get(i, 0))) for i in range(len(centroids))]
        )
        q = q.withColumn("__ranked", ranked)
        best = F.element_at("__ranked", 1)["d"]
        within = F.filter(F.col("__ranked"), lambda s: s["d"] <= best + F.lit(margin))
        q = q.withColumn("__within", within)
        # prefix cell-MASS over the margin-filtered ranked cells; probe
        # the longest prefix whose mass stays under the budget (mass,
        # not count: on a skewed index a query whose near cells are
        # small may probe MORE of them for the same cost bound)
        prefix = F.transform(
            F.sequence(F.lit(1), F.size("__within")),
            lambda j: F.aggregate(
                F.slice("__within", 1, j),
                F.lit(0).cast("long"),
                lambda acc, s: acc + F.element_at(sizes_arr, s["i"].cast("int") + 1),
            ),
        )
        # the prefix may include the cell that CROSSES the budget line
        # (overshoot bounded by one cell) — without it, an index whose
        # mean cell mass divides the budget exactly would probe one
        # cell short of the intended fraction on every query
        m = F.least(
            F.size("__within"),
            F.size(F.filter(prefix, lambda p: p < F.lit(budget))) + F.lit(1),
        )
        probe = F.slice("__within", F.lit(1), F.greatest(m, F.lit(1)))
        probe = F.when(F.size(probe) >= floor, probe).otherwise(
            F.slice(F.col("__ranked"), 1, floor)
        )
        return q.withColumn(
            "centroid_id", F.explode(F.transform(probe, lambda s: s["i"]))
        ).select(query_id_col, "__qvec", "centroid_id")
    return q.withColumn(
        "centroid_id",
        F.explode(F.slice(F.transform(ranked, lambda s: s["i"]), 1, nprobe)),
    ).select(query_id_col, "__qvec", "centroid_id")


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    nprobe: int | str = 4,
    stats: dict | None = None,
    max_fraction: float = 0.125,
    auto_margin_scale: float = 2.0,
) -> DataFrame:
    """Probe nearest centroids per query, exact-rank the candidates.
    Join is centroid_id-equi (broadcast on the query side).

    ``nprobe``: an int probes that many cells for EVERY query. The
    recall-under-stress sweep (BASELINE.md) showed the knee moves with
    cell occupancy, so ``nprobe="auto"`` probes ADAPTIVELY per query
    instead, calibrated from the index's cell-size stats
    (``ivf_index_stats``; computed here in one tiny job when ``stats``
    is not passed):

    - every centroid whose cosine distance is within ``margin`` of the
      query's best centroid is probed, where margin = mean within-cell
      distance x ``auto_margin_scale`` — boundary-straddling queries
      (the ones fixed small nprobe fails on) automatically fan out to
      the cells their true neighbors can hide in, while interior
      queries probe 1-2 cells;
    - a FLOOR of ceil(3k / mean_cell_size) cells guarantees enough
      candidates when cells are small relative to k;
    - a probed-MASS budget of ``max_fraction`` x corpus rows bounds
      the cost: the longest prefix of margin-qualified cells whose
      cumulative cell mass stays under the budget is probed. Mass, not
      cell count — on a skewed index a query whose near cells are
      SMALL probes more of them for the same cost bound, which is
      where fixed nprobe loses recall.
    """
    q = ivf_probe_sets(
        centroids,
        queries,
        vec_col=vec_col,
        query_id_col=query_id_col,
        k=k,
        nprobe=nprobe,
        stats=stats,
        assigned=assigned,
        max_fraction=max_fraction,
        auto_margin_scale=auto_margin_scale,
    )
    scored = assigned.join(F.broadcast(q), "centroid_id").withColumn(
        "score", F.round(cosine(F.col(vec_col), F.col("__qvec")), 6)
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def hubness_estimate(
    topk: DataFrame,
    corpus_ids: DataFrame | None = None,
    k: int | None = None,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    exclude_self: bool = True,
) -> DataFrame:
    """k-occurrence histogram estimated from ANN top-k results — the
    corpus-scale counterpart of the exact hubness audit (q245): how
    many vectors appear in 0, 1, ..., many other vectors' neighbor
    lists. The exact referee is O(n²) and bounded to a fixed sample;
    this estimator reads only an ANN searcher's output
    (``ivf_topk`` / ``ivfpq_topk`` / ``lsh_topk`` — any frame with
    (query_id, vec_id[, rank]) rows), so it scales with |queries| × k,
    not corpus².

    ``exclude_self``: the standard audit queries the corpus with its
    own vectors, where each query's top hit is itself — ask the
    searcher for k+1 neighbors and pass ``k`` here so every query
    still contributes k true neighbors after its self-match drops
    (the trim re-ranks by the searcher's ``rank`` when present).
    ``corpus_ids``: single-column frame of ALL corpus ids, so vectors
    in NO neighbor list (antihubs — k-occurrence 0, unreachable by any
    kNN search) are counted; without it the histogram starts at 1.

    Returns (k_occurrence int, n_vectors long). 100 TB shape: one
    groupBy over |Q|×k neighbor rows (already partitioned by query
    from the searcher's own top-k window), a column-pruned id-only
    join against the corpus, and a histogram agg of at most k+1 rows
    per partition."""
    t = topk
    if exclude_self:
        t = t.filter(F.col(query_id_col) != F.col(id_col))
    if k is not None:
        # trim preference: searcher rank, else score (best-first), else
        # id as a deterministic last resort — trimming a rank-less but
        # scored frame by id would keep the k LOWEST-ID rows, a biased
        # histogram.
        if "rank" in t.columns:
            order = [F.asc("rank")]
        elif "score" in t.columns:
            order = [F.desc("score"), F.asc(id_col)]
        else:
            order = [F.asc(id_col)]
        w = Window.partitionBy(query_id_col).orderBy(*order)
        t = (
            t.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
    counts = t.groupBy(id_col).agg(F.count(F.lit(1)).alias("k_occ"))
    if corpus_ids is not None:
        counts = (
            corpus_ids.select(id_col)
            .join(counts, id_col, "left")
            .select(F.coalesce("k_occ", F.lit(0)).alias("k_occ"))
        )
    else:
        counts = counts.select("k_occ")
    return counts.groupBy(
        F.col("k_occ").cast("int").alias("k_occurrence")
    ).agg(F.count(F.lit(1)).alias("n_vectors"))


def stored_index_hubness(
    spark,
    path: str,
    k: int = 10,
    nprobe: int | str = "auto",
    max_queries: int = 100_000,
    seed: int = 42,
    max_fraction: float = 0.125,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The hubness audit as a one-call serving-path operation over a
    STORED float-IVF index (``ivf_write`` layout): self-query the
    index with its own vectors through the production searcher
    (``ivf_topk``, k+1 with the self-match dropped), estimate the
    k-occurrence histogram (``hubness_estimate``, antihubs counted via
    the corpus id join), and return (k_occurrence, n_vectors) ready
    for a report sink. This is the audit the 100 TB story depends on,
    runnable without writing a driver script — surfaced as the
    ``hubness_report`` builtin pipeline stage and the
    ``index-hubness`` CLI subcommand.

    ``max_queries`` bounds the query side: above it, a deterministic
    hash-sample of that size queries the index (|Q| x k cost, the
    §5aa estimator contract) while corpus_ids still cover EVERY
    vector, so the histogram stays corpus-wide with sampled
    occurrence mass. 0/None disables sampling. Codes-only IVFPQ
    indexes are rejected: they store no float vectors to self-query
    with — audit those at build time from the float assignment."""
    meta = read_index_meta(spark, path)
    if "pq" in meta:
        raise ValueError(
            f"index at {path!r} is an IVFPQ codes index — it stores no "
            "float vectors to self-query with; run the audit at build "
            "time from the float assignment (hubness_estimate over "
            "ivfpq_topk output) instead"
        )
    assigned = spark.read.parquet(path)
    stats = meta.get("stats")  # cell_sizes keys already int-restored
    queries = assigned.select(
        F.col(id_col).alias("query_id"), F.col(vec_col)
    )
    n_vectors = int((stats or {}).get("n_vectors", 0)) or assigned.count()
    if max_queries and n_vectors > max_queries:
        # deterministic hash-gate: stable across runs AND partitionings
        # (sample() is seed+partition-layout dependent; xxhash is not)
        bound = int((max_queries / n_vectors) * (1 << 31))
        queries = queries.filter(
            (F.abs(F.xxhash64("query_id", F.lit(seed))) % (1 << 31)) < bound
        )
    topk = ivf_topk(
        assigned,
        meta["centroids"],
        queries,
        id_col=id_col,
        vec_col=vec_col,
        k=k + 1,  # self-match drops in the estimator's exclude_self trim
        nprobe=nprobe,
        stats=stats,
        max_fraction=max_fraction,
    )
    return hubness_estimate(
        topk,
        corpus_ids=assigned.select(id_col),
        k=k,
        id_col=id_col,
        exclude_self=True,
    )


def cell_file_plan(
    stats: dict, bytes_per_vec: float, target_mb: int = 128
) -> dict[int, int]:
    """{centroid_id: output file count} targeting ~``target_mb`` per
    file from the cell-occupancy stats and a measured bytes-per-vector
    — the write-side twin of ``compact_index``'s per-cell coalesce.
    Never below 1 file per cell; a 100 TB cell gets cell_bytes/target
    files (parallel read), a 1k-vector cell gets exactly one."""
    t = max(target_mb, 1) * 1024 * 1024
    return {
        int(c): max(1, round(n * bytes_per_vec / t))
        for c, n in stats["cell_sizes"].items()
    }


def _index_bytes_per_vec(fs, base: str, n_vectors: int) -> float:
    """Measured storage density of an existing index: total data bytes
    under the cell directories / vectors. One listStatus per cell."""
    total = 0
    for d in fs.listdir(base):
        if d.startswith("centroid_id=") and fs.is_dir(f"{base}/{d}"):
            total += sum(fs.file_sizes(f"{base}/{d}").values())
    return total / max(n_vectors, 1)


# Above this many cells the per-cell file counts travel as a broadcast
# frame instead of an inline literal map: a create_map of 2 x n_cells
# expressions bloats the plan linearly and can trip Janino's 64KB
# codegen limit (interpreted fallback + slow driver planning) at the
# tens-of-thousands-of-centroids scale a 100 TB index runs at.
_CELL_MAP_LITERAL_CAP = 2048


def _compacted_cells(df: DataFrame, file_plan: dict[int, int], id_col: str) -> DataFrame:
    """Repartition ``df`` so the partitioned write emits ~file_plan[c]
    files for cell c: a per-cell salt (id hash mod the cell's file
    count) spreads each big cell across exactly its target number of
    write partitions while small cells stay whole — ONE shuffle sized
    by the frame, no per-cell jobs. Small plans inline the counts as a
    literal map (zero extra plan nodes); past ``_CELL_MAP_LITERAL_CAP``
    cells the counts ride a broadcast join instead (constant plan
    size; a cell missing from the plan salts to NULL either way)."""
    n_total = max(sum(file_plan.values()), 1)
    cols = df.columns
    if len(file_plan) <= _CELL_MAP_LITERAL_CAP:
        mapping = F.create_map(
            *[F.lit(x) for c_n in sorted(file_plan.items()) for x in c_n]
        )
        df = df.withColumn(
            "__f",
            F.pmod(F.xxhash64(F.col(id_col)), mapping[F.col("centroid_id")]),
        )
    else:
        plan_df = df.sparkSession.createDataFrame(
            sorted((int(c), int(n)) for c, n in file_plan.items()),
            "centroid_id long, __nf int",
        )
        df = (
            df.withColumn("__cid", F.col("centroid_id").cast("long"))
            .join(
                F.broadcast(plan_df.withColumnRenamed("centroid_id", "__cid")),
                "__cid",
                "left",
            )
            .withColumn("__f", F.pmod(F.xxhash64(F.col(id_col)), F.col("__nf")))
            .drop("__cid", "__nf")
        )
        # the join reorders columns (join key first) — restore the
        # caller's layout so both code paths write identical schemas
        df = df.select(*cols, "__f")
    return (
        df.repartition(n_total, F.col("centroid_id"), F.col("__f"))
        .drop("__f")
    )


def _write_cells(
    df: DataFrame,
    path: str,
    meta: dict | None,
    width: int,
    file_plan: dict[int, int] | str | None,
    id_col: str,
    target_file_mb: int,
) -> None:
    """The one cell writer behind ``ivf_write`` and ``pq.ivfpq_write``:
    rows written ``partitionBy("centroid_id")``, then ``meta`` (None
    for a meta-less index) through ``write_index_meta``. ``width`` is
    the per-row payload in 8-byte elements (``dim`` doubles for a float
    index, ``m`` longs for a codes index); ``file_plan="auto"`` sizes
    the cells from it and ``meta["stats"]``, and falls back to the raw
    map-output layout when there are no stats to size from."""
    stats = meta.get("stats") if meta is not None else None
    if file_plan == "auto":
        if stats is not None and id_col in df.columns:
            # estimated parquet bytes/row: id + width 8-byte elements
            # (random floats compress ~not at all) + ~10% structure
            file_plan = cell_file_plan(stats, (16 + 8 * width) * 1.1, target_file_mb)
        else:
            file_plan = None
    out = _compacted_cells(df, file_plan, id_col) if file_plan else df
    out.write.mode("overwrite").partitionBy("centroid_id").parquet(path)
    if meta is not None:
        write_index_meta(df.sparkSession, path, meta)


def ivf_write(
    assigned: DataFrame,
    path: str,
    centroids: list[list[float]] | None = None,
    stats: dict | None = None,
    vec_col: str = "embedding",
    file_plan: dict[int, int] | str | None = "auto",
    id_col: str = "vec_id",
    target_file_mb: int = 128,
) -> None:
    """Materialize an IVF index: vectors written partitioned by
    centroid — the layout that makes query-time probing read only
    nprobe/k of the corpus (partition pruning at the file listing).

    When ``centroids`` is passed, the index's METADATA (centroids +
    ``ivf_index_stats``) is persisted under ``path/_ivf_meta`` as one
    tiny JSON text file, so ``nprobe="auto"`` works straight off the
    stored index (``ivf_read_index``) with no float-corpus rescan at
    query time. ``stats=None`` computes them here — one n_centroids-row
    aggregation, the only extra job — at the one moment the float
    assignment is guaranteed on hand (index build). The ``_``-prefixed
    meta is invisible to ``spark.read.parquet(path)``, and the write
    goes through the Hadoop FS API, so it lands on whatever Hadoop
    filesystem ``path`` lives on (HDFS/S3/local alike).

    ``file_plan`` (see ``cell_file_plan``) pre-coalesces the layout at
    write time: each cell lands in ~its target number of files instead
    of (task partitions x cells) fragments. The default ``"auto"``
    derives the plan from the stats whenever centroids are on hand
    (row bytes estimated from the vector dimension) — a serving index
    is BORN at compact-level file counts, at the cost of one
    corpus-sized shuffle the fragmented layout would otherwise repay
    many times over in per-file open/footer reads and a follow-up
    ``compact_index`` rewrite. Pass ``file_plan=None`` for the raw
    map-output layout (no shuffle), or an explicit dict (the recluster
    path passes one computed from the OLD index's measured density)."""
    meta = None
    if centroids is not None:
        if stats is None:
            stats = ivf_index_stats(assigned, centroids, vec_col=vec_col)
        meta = {"centroids": [[float(x) for x in c] for c in centroids], "stats": stats}
    _write_cells(
        assigned, path, meta, len(centroids[0]) if centroids else 0,
        file_plan, id_col, target_file_mb,
    )


class ConcurrentIndexMutation(RuntimeError):
    """The stored ``_ivf_meta`` version moved between a lifecycle op's
    initial read and its commit — a second writer violated the
    single-writer contract. The tripped op left the index data
    untouched: appends stage their batch and discard it on trip
    (stage-then-swap), recluster discards its rebuilt tmp. Re-read the
    index and retry — the retry cannot duplicate data."""


def write_index_meta(spark, path: str, meta: dict,
                     expected_version: int | None = None) -> None:
    """Persist an index metadata dict as ONE tiny JSON text file at
    ``path/_ivf_meta`` — through the Hadoop FS stream API (driver-side,
    no Spark job), so it lands on whatever Hadoop filesystem the index
    lives on; the ``_`` prefix keeps it invisible to
    ``spark.read.parquet(path)``. The one meta codec of both index
    kinds (``pq.ivfpq_write`` adds the codebook): ``meta["stats"]`` is
    an ``ivf_index_stats`` dict whose int ``cell_sizes`` keys are
    stringified here for JSON and restored by ``read_index_meta``.

    Concurrency contract: index mutation (``ivf_write`` / ``ivf_append``
    / ``ivf_delete`` / ``ivf_recluster``) is SINGLE-WRITER — appends
    read-modify-write the stats, so two concurrent writers lose one
    update. Violations get BEST-EFFORT DETECTION at commit: every
    lifecycle op passes ``expected_version`` (the version it read at
    start), and the write compares the currently stored version — if
    another writer bumped it in between, the write fails loudly with
    ``ConcurrentIndexMutation`` instead of silently losing that
    writer's stats update. The check is check-then-act over
    non-atomic filesystem ops, not an atomic CAS: two writers whose
    version reads land inside the same commit window can still both
    succeed — run real multi-writer ingest through one coordinator
    (e.g. a Structured Streaming sink, one writer per index). Each
    successful write stamps a monotonic ``version`` (prior stored
    version + 1).

    Crash safety: the new meta is staged in a temp dir, the PRIOR meta
    is renamed aside to ``_ivf_meta.__old__`` (never deleted first),
    the temp renamed in, and only then the aside dropped — a crash at
    any point leaves a recoverable meta (the next write rolls the aside
    back; ``read_index_meta`` also falls back to it), so the version
    counter survives every crash window."""
    import json
    import uuid

    from batch_process_spark.sinks.hadoopfs import HadoopFS

    base = path.rstrip("/")
    fs = HadoopFS(spark, base)
    final = base + "/_ivf_meta"
    old = final + ".__old__"
    # recover a crash between rename-aside and swap-in: the prior meta
    # survives under .__old__ — restore it so the version counter (and
    # concurrent-writer detection) survives the crash
    if not fs.exists(final) and fs.exists(old):
        fs.rename(old, final)
    try:
        stored = int(read_index_meta(spark, base).get("version", 0))
    except ValueError:  # first write: no prior meta
        stored = 0
    if expected_version is not None and stored != int(expected_version):
        raise ConcurrentIndexMutation(
            f"index at {base!r}: _ivf_meta version is {stored} but this "
            f"writer read {int(expected_version)} — a concurrent mutation "
            "committed in between (single-writer contract violated); "
            "stats update NOT applied, re-read the index and retry"
        )
    meta["version"] = max(stored, int(meta.get("version", 0))) + 1
    stats, doc = meta.get("stats"), meta
    if stats is not None:  # JSON keys are strings; read_index_meta restores ints
        sizes = {str(k): v for k, v in stats["cell_sizes"].items()}
        doc = {**meta, "stats": {**stats, "cell_sizes": sizes}}
    # direct FS stream write — the meta is ~1 kB of JSON; a Spark job
    # (createDataFrame + write.text) cost ~2 s of pure overhead on
    # EVERY lifecycle commit (phase-probed r12). The stored form is now
    # a plain file; read_utf8 still reads the legacy part-file dirs.
    tmp = f"{base}/_ivf_meta_tmp_{uuid.uuid4().hex[:12]}"
    fs.write_utf8(tmp, json.dumps(doc))
    fs.delete(old)  # clear a stale aside from an earlier completed write
    if fs.exists(final):
        fs.rename(final, old)  # prior meta stays recoverable, never deleted
    fs.rename(tmp, final)
    fs.delete(old)


def read_index_meta(spark, path: str) -> dict:
    """Load ``path/_ivf_meta`` (see ``write_index_meta``); restores the
    int keys of ``stats.cell_sizes``. A reader that lands inside a
    writer's crash window (final meta renamed aside, replacement not
    yet in place) falls back to ``_ivf_meta.__old__`` — the prior
    committed state, which is exactly what the swap protocol guarantees
    is still complete. Raises the explanatory error ONLY when BOTH are
    genuinely absent — permission errors, corrupt JSON, and transient
    FS failures propagate unchanged so they aren't misdiagnosed as a
    meta-less index. Reads through the FS stream (no Spark job — this
    runs per micro-batch in the serving scorer); both the current
    plain-file form and the legacy part-file directory form load."""
    import json

    from batch_process_spark.sinks.hadoopfs import HadoopFS

    base = path.rstrip("/")
    fs = HadoopFS(spark, base)
    final, old = base + "/_ivf_meta", base + "/_ivf_meta.__old__"
    if fs.exists(final):
        text = fs.read_utf8(final)
    elif fs.exists(old):
        text = fs.read_utf8(old)
    else:
        raise ValueError(
            f"no _ivf_meta under {path!r} — the index was written "
            "without centroids. Re-write it with ivf_write(assigned, "
            "path, centroids=...) (or pq.ivfpq_write) to persist the "
            "metadata."
        )
    meta = json.loads(text)
    if "stats" in meta and "cell_sizes" in meta["stats"]:
        meta["stats"]["cell_sizes"] = {
            int(k): v for k, v in meta["stats"]["cell_sizes"].items()
        }
    return meta


def ivf_read_index(spark, path: str):
    """(assigned DataFrame, centroids, stats) from an ``ivf_write``-n
    index with persisted metadata. The assigned frame is the lazy
    partitioned scan (probe filters land in PartitionFilters); the
    metadata load reads ONE tiny text file — no corpus I/O — so
    ``ivf_topk(..., nprobe="auto", stats=stats)`` runs off the stored
    index alone. An IVFPQ codes index is refused: its frame holds codes,
    not the float vectors ``ivf_topk`` scores."""
    meta = read_index_meta(spark, path)
    if "pq" in meta:
        raise ValueError(
            f"index at {path!r} is an IVFPQ codes index — it was written "
            "by ivfpq_write, not ivf_write; use pq.ivfpq_read instead"
        )
    return spark.read.parquet(path), meta["centroids"], meta["stats"]


def ivf_read_probe(spark, path: str, centroid_ids: list[int]) -> DataFrame:
    """Read only the probed centroid partitions (the filter lands in
    PartitionFilters — zero data read from unprobed partitions)."""
    return spark.read.parquet(path).filter(F.col("centroid_id").isin(centroid_ids))


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign vectors to their nearest centroid (squared Euclidean,
    ties to the lowest centroid id) — the incremental-ingest half of
    KMeans: new vectors join an EXISTING index without refitting.
    Map-only Arrow kernel (the centroid matrix rides the closure,
    n_centroids x dim doubles); zero shuffle.

    Round-11 A/B note: the previous implementation was a Catalyst
    higher-order-function expression (transform/zip_with/aggregate).
    HOF lambdas are NOT whole-stage-codegen'd — they interpret per
    element with object churn — and the full-corpus re-assign inside
    ``ivf_recluster`` measured 59.6 s vs 10.8 s for the ML transform
    at 262k x 64 x 32 cells; this numpy kernel does the same argmin
    in one vectorized pass per batch (~2 s). Same tie semantics
    (np.argmin returns the first = lowest centroid id)."""
    import numpy as np
    import pandas as pd

    cents = np.asarray(centroids, dtype=np.float64)
    id_type = dict(df.dtypes)[id_col]
    vec_type = dict(df.dtypes)[vec_col]

    def assign(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            v = np.stack(
                [np.asarray(e, dtype=np.float64) for e in pdf[vec_col]]
            )
            # exact per-centroid squared distance (no rearranged form:
            # ||v||^2 - 2vc + ||c||^2 rounds differently and can flip
            # near-tie argmins vs the tests' numpy referee)
            d2 = np.stack([((v - c) ** 2).sum(axis=1) for c in cents], axis=1)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                vec_col: pdf[vec_col],
                "centroid_id": d2.argmin(axis=1).astype(np.int32),
            })

    return df.select(id_col, vec_col).mapInPandas(
        assign,
        schema=f"{id_col} {id_type}, {vec_col} {vec_type}, centroid_id int",
    )


def merge_index_stats(old: dict, delta: dict) -> dict:
    """Exact merge of two ``ivf_index_stats`` dicts (cell sizes add;
    the global mean within-cell distance is the n-weighted average —
    derivable because the stat is a global mean, not per-cell)."""
    sizes = dict(old["cell_sizes"])
    for k, v in delta["cell_sizes"].items():
        sizes[k] = sizes.get(k, 0) + v
    total = old["n_vectors"] + delta["n_vectors"]
    return {
        "cell_sizes": sizes,
        "n_vectors": total,
        "mean_cell_size": total / max(len(sizes), 1),
        "mean_within_dist": (
            old["mean_within_dist"] * old["n_vectors"]
            + delta["mean_within_dist"] * delta["n_vectors"]
        ) / max(total, 1),
    }


APPEND_STAGE_PREFIX = "_append_stage_"


def _move_staged_cells(fs, stage: str, base: str) -> int:
    """Expose a staged append batch: rename every data file under
    ``stage/centroid_id=N/`` into the live cell directory of the same
    name. One FS rename per batch file — O(files-in-batch), no data
    copy, no rewrite of existing cells. Idempotent for crash recovery:
    a file whose destination already exists was moved by the crashed
    run (per-file rename is atomic), so it is skipped; re-running after
    a partial move finishes the remainder."""
    moved = 0
    for cell in fs.listdir(stage):
        src_dir = f"{stage}/{cell}"
        if not cell.startswith("centroid_id=") or not fs.is_dir(src_dir):
            continue  # _SUCCESS marker etc. — dies with the stage dir
        dst_dir = f"{base}/{cell}"
        if not fs.exists(dst_dir):
            fs.mkdirs(dst_dir)
        for name in fs.listdir(src_dir):
            if name.startswith(("_", ".")):
                continue
            if not fs.exists(f"{dst_dir}/{name}"):
                fs.rename(f"{src_dir}/{name}", f"{dst_dir}/{name}")
                moved += 1
    return moved


def recover_pending_append(spark, path: str, meta: dict) -> dict:
    """Roll a crashed staged append forward. ``ivf_append`` commits in
    two steps: (1) CAS meta write carrying ``pending_append`` (the
    staged batch's dir name) with the already-merged stats, (2) rename
    the staged files into the live cells. A crash between them leaves
    stats counting vectors the data doesn't serve yet — recall-safe
    (auto-nprobe over-probes slightly, results simply lack the batch)
    but worth healing: every lifecycle op calls this first. If the
    staged dir still exists the move is completed (idempotent —
    ``_move_staged_cells``); either way the marker is stripped from
    the returned dict so the op's own meta write clears it. Never
    writes meta itself (the caller's CAS'd write does).

    Marker clearing is deliberately LAZY: a successful append leaves
    its own marker in the committed meta (pointing at the staging dir
    it already deleted) rather than paying a second meta-write job per
    batch. Invariant: marker dir absent ⇒ the append is fully exposed
    and the index is consistent; markers are stripped by the next
    lifecycle op's commit."""
    pend = meta.pop("pending_append", None)
    if not pend:
        return meta
    from batch_process_spark.sinks.hadoopfs import HadoopFS

    base = path.rstrip("/")
    fs = HadoopFS(spark, base)
    stage = f"{base}/{pend}"
    if fs.exists(stage):
        _move_staged_cells(fs, stage, base)
        fs.delete(stage)
    return meta


def ivf_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incrementally grow a stored IVF or IVFPQ index: assign the
    arriving float vectors to the EXISTING centroids (``ivf_assign`` —
    no refit, the cells stay stable so previously-served probe sets
    remain valid), append them under the partitioned layout (only the
    touched cells' directories gain files), and merge the persisted
    auto-nprobe stats exactly (``merge_index_stats``). Returns the
    staged increment of the index's kind: (id, embedding, centroid_id)
    for a float index, (id, centroid_id, codes) for a codes index.

    The kind comes from the stored meta. A codes index encodes the batch
    with the PERSISTED codebook (``pq.pq_encode_fused`` — no retrain,
    the FAISS add() contract: quantization error for the new vectors is
    whatever the existing codebook gives them), and its stats delta
    comes from the float assignment, since the staged codes rows carry
    no float coordinates.

    At 100 TB this is the ingest path: per batch, one map-only assign
    + one partitioned append + one n_centroids-row stats job; the
    existing index is never rewritten. Re-clustering (centroid drift
    after heavy growth) is a separate offline rebuild decision — the
    persisted cell_sizes are exactly the signal to trigger it.

    Commit protocol (stage-then-swap): the batch is written under a
    ``_``-prefixed staging dir (invisible to ``spark.read.parquet``),
    the merged stats are committed by the version-checked meta write,
    and only THEN are the staged files renamed into the live cells
    (O(files-in-batch) FS renames — no data copy). A tripped
    ``ConcurrentIndexMutation`` therefore leaves the index exactly at
    its pre-append state (the staging dir is deleted) and retrying the
    append is safe — no orphaned vectors, no duplicate ids. A crash
    between the meta commit and the rename-in is healed by the next
    lifecycle op (``recover_pending_append``); until then reads are
    recall-safe (stats over-count → auto-nprobe over-probes)."""
    import uuid

    from batch_process_spark.sinks.hadoopfs import HadoopFS

    base = path.rstrip("/")
    meta = recover_pending_append(spark, base, read_index_meta(spark, base))
    expected = int(meta.get("version", 0))
    cents = meta["centroids"]
    assigned = ivf_assign(new_vectors, cents, id_col=id_col, vec_col=vec_col)
    inc = assigned
    if "pq" in meta:
        from batch_process_spark.operators import pq

        codes = pq.pq_encode_fused(
            new_vectors, pq.codebook_frame(spark, meta), meta["pq"]["subdim"],
            id_col=id_col, vec_col=vec_col,
        )
        inc = assigned.select(id_col, "centroid_id").join(codes, id_col)

    fs = HadoopFS(spark, base)
    stage_name = APPEND_STAGE_PREFIX + uuid.uuid4().hex[:12]
    stage = f"{base}/{stage_name}"
    # repartition by cell before staging: ONE file per touched cell per
    # batch instead of (batch partitions x cells) small files — a
    # batch-sized shuffle that cuts both the rename-in count and the
    # append debt compact_index exists to repay
    inc.repartition("centroid_id").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(stage)
    if meta.get("stats") is not None:
        # the delta needs float coordinates: a float batch reads them back
        # from the staged rows, a codes batch from its assignment
        staged = assigned if "pq" in meta else spark.read.parquet(stage)
        delta = ivf_index_stats(staged, cents, vec_col=vec_col)
        meta["stats"] = merge_index_stats(meta["stats"], delta)
    meta["pending_append"] = stage_name
    try:
        write_index_meta(spark, base, meta, expected_version=expected)
    except ConcurrentIndexMutation:
        fs.delete(stage)  # index untouched — retry is safe
        raise
    _move_staged_cells(fs, stage, base)
    fs.delete(stage)
    return inc


def subtract_index_stats(old: dict, removed: dict) -> dict:
    """Exact inverse of ``merge_index_stats``: remove a batch's stats
    from an index's stats. Cells that reach size 0 drop out of
    ``cell_sizes`` entirely (matching what ``ivf_index_stats`` on the
    remaining vectors would produce — its groupBy never emits empty
    cells), so delete-then-rebuild and subtract agree exactly."""
    sizes = dict(old["cell_sizes"])
    for k, v in removed["cell_sizes"].items():
        left = sizes.get(k, 0) - v
        if left < 0:
            raise ValueError(f"cell {k}: removing {v} from {sizes.get(k, 0)}")
        if left == 0:
            sizes.pop(k, None)
        else:
            sizes[k] = left
    total = old["n_vectors"] - removed["n_vectors"]
    if total < 0:
        raise ValueError("removing more vectors than the index holds")
    return {
        "cell_sizes": sizes,
        "n_vectors": total,
        "mean_cell_size": total / max(len(sizes), 1),
        "mean_within_dist": (
            (
                old["mean_within_dist"] * old["n_vectors"]
                - removed["mean_within_dist"] * removed["n_vectors"]
            )
            / total
            if total
            else 0.0
        ),
    }


def _ids_frame(spark, ids, id_col: str) -> DataFrame:
    if isinstance(ids, DataFrame):
        return ids.select(id_col).distinct()
    return spark.createDataFrame(
        [(int(i),) for i in ids], f"{id_col} long"
    ).distinct()


def ivf_delete(
    spark,
    path: str,
    ids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Purge vectors from a stored IVF or IVFPQ index (takedown /
    opt-out): rewrite ONLY the cell directories that actually contain
    the doomed ids, and decrement the persisted auto-nprobe stats
    exactly (``subtract_index_stats``). ``ids`` is an id list or a
    single-column DataFrame (takedown lists can be corpus-sized — the
    frame path never collects them to the driver beyond the touched-
    cell set, which is bounded by n_centroids).

    100 TB shape: one column-pruned (id, centroid_id) scan semi-joined
    to the id set finds the touched cells (centroid_id is a partition
    column, so the scan reads the id column only); each touched cell is
    rewritten with an anti-join and swapped in crash-safely
    (``swap_directory_fs`` — never destructive of the only copy); cells
    the ids don't touch are never read or written. A cell left empty is
    removed outright, matching a from-scratch rebuild's stats.

    For an IVFPQ codes index the size stats decrement exactly, but
    ``mean_within_dist`` is kept unchanged (the deleted vectors' float
    coordinates are gone — only their codes remain), a documented
    approximation of the auto-nprobe calibration scalar. Single-writer
    contract as in ``write_index_meta`` — enforced by compare-and-swap
    on the meta version at commit. All directory ops go through the
    Hadoop FS API (``sinks.hadoopfs``), so the index may live on
    HDFS/S3, not just a local path."""
    from batch_process_spark.sinks.hadoopfs import (
        HadoopFS,
        recover_swap_fs,
        swap_directory_fs,
    )

    base = path.rstrip("/")
    meta = recover_pending_append(spark, base, read_index_meta(spark, base))
    expected = int(meta.get("version", 0))
    fs = HadoopFS(spark, base)
    ids_df = _ids_frame(spark, ids, id_col)
    idx = spark.read.parquet(base)
    doomed = idx.join(ids_df, id_col, "semi")
    per_cell = {
        r["centroid_id"]: r["n"]
        for r in doomed.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()  # bounded: <= n_centroids rows
    }
    n_deleted = sum(per_cell.values())
    if not per_cell:
        return {"n_deleted": 0, "cells_rewritten": 0, "cells_dropped": 0,
                "version": meta.get("version")}

    if "pq" in meta:
        removed_stats = {
            "cell_sizes": per_cell,
            "n_vectors": n_deleted,
            # codes carry no float coordinates: treat the removed batch as
            # having the index's own mean within-dist, which leaves the
            # calibration scalar unchanged (documented approximation)
            "mean_within_dist": (meta.get("stats") or {}).get("mean_within_dist", 0.0),
        }
    else:
        removed_stats = ivf_index_stats(doomed, meta["centroids"], vec_col=vec_col)

    dropped = rewritten = 0
    for cid, n_del in sorted(per_cell.items()):
        cell_dir = f"{base}/centroid_id={cid}"
        tmp = f"{base}.__delete__.{cid}"
        recover_swap_fs(fs, cell_dir, tmp)
        stored_size = (meta.get("stats") or {}).get("cell_sizes", {}).get(cid)
        if stored_size is not None and stored_size == n_del:
            # cell emptied: remove the directory (a rebuild would not
            # emit this cell at all)
            fs.delete(cell_dir)
            dropped += 1
            continue
        keep = spark.read.parquet(cell_dir).join(ids_df, id_col, "anti")
        keep.write.mode("overwrite").parquet(tmp)
        swap_directory_fs(fs, tmp, cell_dir)
        rewritten += 1

    if meta.get("stats") is not None:
        meta["stats"] = subtract_index_stats(meta["stats"], removed_stats)
        write_index_meta(spark, base, meta, expected_version=expected)
    from batch_process_spark.queries import invalidate_tables

    invalidate_tables(base)
    return {
        "n_deleted": n_deleted,
        "cells_rewritten": rewritten,
        "cells_dropped": dropped,
        "version": meta.get("version"),
    }


def index_skew(stats: dict) -> float:
    """Cell-size skew signal from stored index stats: the largest cell
    as a multiple of the mean cell size (1.0 = perfectly balanced).
    This is the number ``ivf_recluster`` thresholds on — and it comes
    straight off ``_ivf_meta``, no corpus I/O."""
    sizes = stats.get("cell_sizes") or {}
    if not sizes:
        return 0.0
    return max(sizes.values()) / max(stats.get("mean_cell_size", 0.0), 1e-12)


def ivf_recluster(
    spark,
    path: str,
    skew_threshold: float = 4.0,
    n_centroids: int | None = None,
    seed: int = 42,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    force: bool = False,
    train_sample: int | None = None,
    target_file_mb: int = 128,
) -> dict:
    """Offline re-cluster of a drifted stored index: when the persisted
    ``cell_sizes`` skew (``index_skew`` — largest cell / mean cell)
    exceeds ``skew_threshold``, re-train the coarse centroids, re-assign
    every vector, and swap the fresh index in crash-safely; below the
    threshold it is a no-op that reports the measured skew. This is the
    consumer of the drift signal ``ivf_append`` accumulates — heavy
    out-of-distribution growth piles new vectors into few cells,
    degrading probe recall at fixed nprobe, and the fix is a rebuild,
    not more probes.

    Plain IVF float index: the stored vectors ARE the training corpus —
    and the ONLY accepted one. ``corpus=`` is rejected here because an
    external float corpus can silently resurrect ``ivf_delete``'d
    (takedown / opt-out) vectors that the caller's copy still contains;
    the stored index is complete by construction, so there is nothing
    an external corpus could add. IVFPQ codes index: pass ``corpus``
    (the float vectors; codes are not trainable input) — coarse
    centroids re-train and vectors re-assign, while the STORED codes
    are reused as-is (PQ codes quantize the vector, not its cell, so a
    coarse re-cluster never changes them; no encode kernel re-runs and
    the persisted codebook stays fixed — the FAISS re-add contract).
    The corpus ids must match the stored code ids EXACTLY — verified by
    count on both sides; extra corpus ids (e.g. deleted vectors still
    in the caller's copy) or missing ones fail loudly rather than
    silently resurrecting or dropping vectors and skewing the stats.

    ``train_sample``: when set, KMeans trains on a bounded random
    sample of ~``train_sample`` vectors instead of the full corpus —
    the RE-ASSIGN still covers every vector (``ivf_assign``,
    argmin-exact) and the persisted stats come from the full
    assignment, so correctness is unchanged; only the centroid
    positions come from the sample. Coarse centroids are a density
    summary — at 100 TB a full-corpus KMeans retrain is the one part
    of the rebuild whose wall scales with the corpus, and a bounded
    sample caps it (FAISS trains IVF coarse quantizers on bounded
    samples for the same reason).

    ``n_centroids`` defaults to the stored centroid count. The meta
    version stays monotonic across the swap, and the swap is guarded by
    compare-and-swap on the version (``ConcurrentIndexMutation`` if a
    concurrent writer committed since this op read the meta). Directory
    ops route through the Hadoop FS API (``sinks.hadoopfs``) so the
    index may live on HDFS/S3."""
    from batch_process_spark.sinks.hadoopfs import (
        HadoopFS,
        recover_swap_fs,
        swap_directory_fs,
    )

    base = path.rstrip("/")
    fs = HadoopFS(spark, base)
    recover_swap_fs(fs, base, base + ".__recluster__")  # repair a crashed swap
    meta = recover_pending_append(spark, base, read_index_meta(spark, base))
    if meta.get("stats") is None:
        raise ValueError(
            f"index at {path!r} has no persisted stats — re-write it with "
            "ivf_write(..., centroids=...) so drift is measurable"
        )
    skew = index_skew(meta["stats"])
    if skew < skew_threshold and not force:
        return {"reclustered": False, "skew": skew,
                "skew_threshold": skew_threshold}
    k = n_centroids or len(meta["centroids"])
    old_version = int(meta.get("version", 0))
    n_vectors = int(meta["stats"].get("n_vectors", 0))
    tmp = base + ".__recluster__"
    # measured storage density of the OLD index sizes the rebuilt
    # layout (cell_file_plan): the rewrite emits compact-level cells
    # directly — ~target_file_mb files per cell, never the fragmented
    # (task partitions x cells) spray a follow-up compact_index would
    # have to repay (r11 verdict item 5: recluster wall was dominated
    # by rewriting a 5-file-set-per-cell index fragment for fragment)
    bytes_per_vec = _index_bytes_per_vec(fs, base, n_vectors)

    def _train_assign(full: DataFrame):
        """Centroids from a bounded sample (if requested), assignment
        always over the FULL frame."""
        if train_sample is not None and 0 < train_sample < n_vectors:
            frac = min(1.0, 1.2 * train_sample / max(n_vectors, 1))
            sample = full.select(vec_col).sample(fraction=frac, seed=seed)
            cents = kmeans_centroids(
                sample, vec_col=vec_col, n_centroids=k, seed=seed
            )
            return (
                ivf_assign(full, cents, id_col=id_col, vec_col=vec_col),
                cents,
            )
        return ivf_index(
            full, id_col=id_col, vec_col=vec_col, n_centroids=k, seed=seed
        )

    if "pq" in meta:
        if corpus is None:
            raise ValueError(
                "re-clustering an IVFPQ codes index needs corpus= (the "
                "float vectors) — codes cannot train coarse centroids"
            )
        from batch_process_spark.operators import pq as _pq

        subdim = meta["pq"]["subdim"]
        cb = _pq.codebook_frame(spark, meta)
        assigned, cents = _train_assign(corpus)
        # PQ codes are COARSE-INDEPENDENT (they quantize the vector,
        # not its cell), so a re-cluster reuses the STORED codes and
        # only re-labels centroid_id — at 100 TB this skips the m-way
        # encode kernel over the whole float corpus; the coarse
        # re-train + re-assign already pays the float scan. The inner
        # join below intersects corpus ids with stored code ids, so a
        # mismatch either way would silently change the written index
        # — verify both counts and fail loudly instead.
        stored_codes = spark.read.parquet(base).select(id_col, "codes")
        assigned = assigned.persist()
        assigned_codes = assigned.join(stored_codes, id_col).persist()
        # raw counts alone can't see a duplicate corpus id compensating
        # a missing one (n_corpus stays == n_vectors and the dup's two
        # join rows inflate n_joined back) — so the corpus id count is
        # taken DISTINCT; with unique ids, n_distinct == n_vectors ==
        # n_joined implies exact set equality against the stored ids.
        n_corpus = assigned.select(id_col).distinct().count()
        n_raw, n_joined = assigned.count(), assigned_codes.count()
        if n_raw != n_corpus or n_joined != n_corpus or n_corpus != n_vectors:
            assigned.unpersist()
            assigned_codes.unpersist()
            raise ValueError(
                f"IVFPQ recluster id mismatch at {base!r}: corpus has "
                f"{n_raw} rows / {n_corpus} distinct ids, stored index "
                f"has {n_vectors}, their "
                f"intersection {n_joined}. The passed corpus must contain "
                "exactly the stored ids — a superset (e.g. ivf_delete'd "
                "vectors still in the caller's float corpus) would "
                "resurrect purged vectors; a subset would drop live ones."
            )
        # stats from the joined rows — exactly what gets written (the
        # join keeps assigned's float column, so the within-dist term
        # computes from the same row set the index will serve)
        stats = ivf_index_stats(assigned_codes, cents, vec_col=vec_col)
        _pq.ivfpq_write(
            assigned_codes.select(id_col, "centroid_id", "codes"),
            tmp, cents, cb, subdim, stats=stats,
            file_plan=cell_file_plan(stats, bytes_per_vec, target_file_mb),
            id_col=id_col,
        )
        assigned.unpersist()
        assigned_codes.unpersist()
    else:
        if corpus is not None:
            raise ValueError(
                "plain-IVF recluster trains from the STORED vectors — "
                "corpus= is not accepted: an external float corpus can "
                "silently resurrect ivf_delete'd (takedown) vectors still "
                "present in the caller's copy. The stored index is always "
                "sufficient; for IVFPQ (codes-only) indexes corpus= is "
                "required instead."
            )
        train = spark.read.parquet(base).select(id_col, vec_col)
        assigned, cents = _train_assign(train)
        assigned = assigned.persist()  # stats + compacted write, one compute
        stats = ivf_index_stats(assigned, cents, vec_col=vec_col)
        ivf_write(
            assigned, tmp, centroids=cents, stats=stats, vec_col=vec_col,
            file_plan=cell_file_plan(stats, bytes_per_vec, target_file_mb),
            id_col=id_col,
        )
        assigned.unpersist()

    # compare-and-swap: another writer committing between our initial
    # meta read and this point would have its update overwritten by the
    # swap — detect and abort (the freshly built tmp is discarded).
    current = int(read_index_meta(spark, base).get("version", 0))
    if current != old_version:
        fs.delete(tmp)
        raise ConcurrentIndexMutation(
            f"index at {base!r}: _ivf_meta version moved {old_version} -> "
            f"{current} during recluster — a concurrent mutation committed; "
            "rebuild discarded, re-read the index and retry"
        )
    swap_directory_fs(fs, tmp, base)
    # re-stamp version continuity: the fresh meta started at 1 in tmp;
    # the restamp passes that as expected_version so a writer landing
    # in the swap→restamp window trips the version check rather than
    # being silently overwritten. The swap above already COMMITTED the
    # rebuilt index, so a restamp trip is NOT a recluster failure: the
    # racing writer's fresher meta stands (overwriting it with our
    # stale copy would lose its update) and the report says so instead
    # of raising for work that landed.
    restamp_lost = False
    new_meta = read_index_meta(spark, base)
    fresh_version = int(new_meta.get("version", 0))
    new_meta["version"] = old_version  # write bumps to old_version + 1
    try:
        write_index_meta(spark, base, new_meta, expected_version=fresh_version)
    except ConcurrentIndexMutation:
        restamp_lost = True
    from batch_process_spark.queries import invalidate_tables

    invalidate_tables(base)
    report = {
        "reclustered": True,
        "skew": skew,
        "skew_after": index_skew(read_index_meta(spark, base)["stats"]),
        "n_centroids": k,
        "train_sample": train_sample,
    }
    if restamp_lost:
        report["restamp_lost"] = True
    return report


def make_stored_ivf_scorer(
    spark,
    path: str,
    nprobe: int | str = "auto",
    max_fraction: float = 0.125,
):
    """Serving scorer bound to a STORED float-IVF index path, for
    ``streaming.similarity.stream_topk_serving``: it re-reads the meta
    file and the partitioned scan ON EVERY CALL, so index mutations —
    ``ivf_append``, ``ivf_delete``, ``ivf_recluster``,
    ``compact_index`` — land in the NEXT micro-batch without
    restarting the stream. The per-batch refresh costs one tiny meta
    text read plus a fresh file listing; the corpus argument the
    serving loop passes is IGNORED (the stored index carries the float
    vectors and the calibrated stats — it is the corpus).

    This is the single-writer/many-reader contract in motion: readers
    always serve a complete committed state (the meta swap is a
    rename; cell rewrites are directory swaps), and the monotonic meta
    ``version`` tells a reader which state answered its batch."""

    def scorer(
        corpus: DataFrame,  # ignored: the stored index IS the corpus
        queries: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        query_id_col: str = "query_id",
        k: int = 10,
    ) -> DataFrame:
        df, cents, stats = ivf_read_index(spark, path)
        return ivf_topk(
            df, cents, queries,
            id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
            k=k, nprobe=nprobe, stats=stats, max_fraction=max_fraction,
        )

    return scorer


def compact_index(
    spark,
    path: str,
    target_mb: int = 128,
    min_files: int = 4,
) -> dict:
    """Small-files compaction over a stored index's cell directories:
    repeated ``ivf_append`` batches accrete one file set per append
    per touched cell, and the per-file open/footer cost eventually
    dominates probe reads. Rewrites each cell directory
    holding >= ``min_files`` parquet files down to ~``target_mb`` files
    (``coalesce`` — no shuffle), swapped in crash-safely per cell.

    ``_ivf_meta`` is untouched (row content and stats do not change, so
    the version does not bump). Temp directories live OUTSIDE the index
    root (``path.__compact__.<cell>``) — a sibling inside the root
    would be listed as a malformed ``centroid_id`` partition by any
    concurrent reader. Single-writer contract as for appends. Listing,
    sizing, and swaps all go through the Hadoop FS API
    (``sinks.hadoopfs``) so the index may live on HDFS/S3."""
    from batch_process_spark.sinks.hadoopfs import (
        HadoopFS,
        recover_swap_fs,
        swap_directory_fs,
    )

    base = path.rstrip("/")
    fs = HadoopFS(spark, base)
    try:  # heal a crashed append's staged batch before sizing cells
        recover_pending_append(spark, base, read_index_meta(spark, base))
    except ValueError:
        pass  # meta-less index — nothing staged by definition
    report = {"cells_compacted": 0, "files_before": 0, "files_after": 0}
    cells = sorted(
        d for d in fs.listdir(base)
        if d.startswith("centroid_id=") and fs.is_dir(f"{base}/{d}")
    )
    for d in cells:
        cell_dir = f"{base}/{d}"
        tmp = f"{base}.__compact__.{d.split('=', 1)[1]}"
        recover_swap_fs(fs, cell_dir, tmp)
        sizes = fs.file_sizes(cell_dir)
        report["files_before"] += len(sizes)
        if len(sizes) < min_files:
            report["files_after"] += len(sizes)
            continue
        total = sum(sizes.values())
        n_out = max(1, round(total / (target_mb * 1024 * 1024)))
        if n_out >= len(sizes):
            report["files_after"] += len(sizes)
            continue
        spark.read.parquet(cell_dir).coalesce(n_out).write.mode(
            "overwrite"
        ).parquet(tmp)
        swap_directory_fs(fs, tmp, cell_dir)
        report["cells_compacted"] += 1
        report["files_after"] += len(fs.file_sizes(cell_dir))
    from batch_process_spark.queries import invalidate_tables

    invalidate_tables(base)
    return report


def embedding_near_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_bits: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH blocking: vectors
    in the same sign-bucket are compared exactly; pairs >= threshold
    survive. (High-cosine pairs collide with high probability; raise
    recall by unioning several seeds.)"""
    planes = _seeded_hyperplanes(dim, n_bits, seed)
    # Hoist each side's L2 norm out of the pair loop (r14, guide §1.2
    # "per-task work"): cosine(l, r) previously re-folded BOTH
    # self-dot aggregates per candidate pair — 3 interpreted
    # higher-order folds x dim per pair, measured as the whole 1.9 s
    # single-task wall of q26 at sf0.1. Computed once per VECTOR the
    # pair loop folds only the cross dot. sqrt(l)·sqrt(r) over the
    # same doubles is bit-identical to the inlined form.
    b = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
        l2_norm(F.col(vec_col)).alias("__nrm"),
    )
    # Spread the PROBE side across cores (r14, guide §2.5 input skew):
    # the bucket join's quadratic fan-out is pure per-pair CPU against
    # a broadcast build, and a small corpus arrives as a 1-split scan —
    # the whole pair loop then runs in one task (q26's measured shape).
    # No-op when the scan is already parallel (the 100 TB case).
    from batch_process_spark.operators.dedup import ensure_parallelism

    l, r = ensure_parallelism(b).alias("l"), b.alias("r")
    score = F.round(
        dot(F.col(f"l.{vec_col}"), F.col(f"r.{vec_col}"))
        / (F.col("l.__nrm") * F.col("r.__nrm")),
        6,
    )
    return (
        l.join(r, "bucket")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .withColumn("score", score)
        .filter(F.col("score") >= threshold)
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            "score",
        )
    )
