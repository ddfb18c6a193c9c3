"""Dedup + similarity operator tests (north-star M6)."""

import pytest
from pyspark.sql import functions as F

from batch_process_spark.operators import dedup, similarity, text
from tests.conftest import rows_set

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
    (4, "completely different content about spark engines and shuffles"),
    (5, "short"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs, "text", "doc_id")
    assert set(out.columns) == {"doc_id", "text", "dup_count"}  # full rep row
    assert out.count() == 4  # 1 and 2 collapse
    rep = out.filter(F.col("dup_count") == 2).collect()[0]
    assert rep["doc_id"] == 1  # min id is canonical
    assert rep["text"] == DOCS[0][1]  # winning row's payload survives


def test_duplicate_groups(docs):
    out = dedup.duplicate_groups(docs, "text", "doc_id").collect()
    assert len(out) == 1 and out[0]["ids"] == [1, 2]


def test_shingles_semantics(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b"), (3, "")], "id long, text string")
    out = {r["id"]: r["sh"] for r in df.select("id", dedup.shingles_col("text", 3).alias("sh")).collect()}
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == ["a b"]  # < k tokens => one shingle of all tokens
    assert out[3] == []


def test_shingle_frame_matches_expression(docs):
    """Arrow kernel and pure-expression shingles must agree exactly."""
    expr = {r["doc_id"]: sorted(r["sh"]) for r in
            docs.select("doc_id", dedup.shingles_col("text", 3).alias("sh")).collect()}
    arrow = {r["doc_id"]: sorted(r["shingles"]) for r in
             dedup.shingle_frame(docs, "doc_id", "text", 3).collect()}
    assert expr == arrow


def test_minhash_identical_docs_same_sig(docs):
    sigs = {r["doc_id"]: r["sig"] for r in dedup.minhash_docs(docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]


def test_minhash_near_dup_pipeline(docs):
    pairs = dedup.minhash_near_dup_pairs(docs, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup: jaccard 1.0
    # doc 3 differs in the last word: 7 of 8 shingles shared in at least
    # some bands — candidate generation is probabilistic, verify only
    # that no false pair crosses the threshold
    for a, b in got:
        assert {a, b} <= {1, 2, 3}


def test_blocked_jaccard(spark):
    df = spark.createDataFrame(
        [(1, "a b c", "g1"), (2, "a b c", "g1"), (3, "a b c", "g2"), (4, "x y z", "g1")],
        "doc_id long, text string, blk string",
    )
    pairs = dedup.blocked_jaccard_pairs(df, "doc_id", "text", ["blk"], k=1, threshold=0.9)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}  # 3 matches but is in another block


def test_simhash_near_dups_close(docs):
    out = {r["doc_id"]: r["sig"] for r in
           docs.select("doc_id", dedup.simhash_hex("text").alias("sig")).collect()}
    assert out[1] == out[2]
    # tiny docs: one changed token out of 9 shifts several majority
    # votes — near-dups are merely closer than unrelated docs
    ham_near = sum(a != b for a, b in zip(out[1], out[3]))
    ham_far = sum(a != b for a, b in zip(out[1], out[4]))
    assert ham_near < ham_far
    assert len(out[4]) == 16


def test_simhash_docs_matches_expression(docs):
    """The codegen explode plan must produce bit-identical signatures
    to the array-expression form."""
    expr = {r["doc_id"]: r["sig"] for r in
            docs.select("doc_id", dedup.simhash_hex("text").alias("sig")).collect()}
    fast = {r["doc_id"]: r["sig"] for r in dedup.simhash_docs(docs, "doc_id", "text").collect()}
    assert fast == expr


def test_simhash_pairs(docs):
    pairs = dedup.simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=10)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got


# -- similarity -------------------------------------------------------------

VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.9, 0.1, 0.0, 0.0]),
    (3, [0.0, 1.0, 0.0, 0.0]),
    (4, [0.0, 0.0, 1.0, 0.0]),
    (5, [-1.0, 0.0, 0.0, 0.0]),
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_brute_force_topk_exact(vecs):
    q = vecs.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.brute_force_topk(vecs, q, k=3).collect()
    ranked = [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]  # self, near, orthogonal (ties broken by id)
    assert out[0]["score"] == 1.0


def test_lsh_topk_subset_of_brute(vecs):
    q = vecs.filter(F.col("vec_id") == 1).select(F.col("vec_id").alias("query_id"), "embedding")
    lsh = similarity.lsh_topk(vecs, q, k=3, n_bits=2, dim=4)
    brute = similarity.brute_force_topk(vecs, q, k=5)
    lsh_ids = {r["vec_id"] for r in lsh.collect()}
    brute_scores = {r["vec_id"]: r["score"] for r in brute.collect()}
    # LSH returns a subset of the corpus with correct scores
    for r in lsh.collect():
        assert abs(brute_scores[r["vec_id"]] - r["score"]) < 1e-6


def test_embedding_near_dup(vecs):
    pairs = similarity.embedding_near_dup_pairs(vecs, threshold=0.9, n_bits=2, dim=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # (1,2) cosine ~0.994 — may or may not share a bucket, but no
    # below-threshold pair may appear
    for r in pairs.collect():
        assert r["score"] >= 0.9


def test_ivf_topk(vecs, spark):
    assigned, centroids = similarity.ivf_index(vecs, n_centroids=2)
    q = vecs.filter(F.col("vec_id") == 1).select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.ivf_topk(assigned, centroids, q, k=2, nprobe=2)
    ids = [r["vec_id"] for r in sorted(out.collect(), key=lambda r: r["rank"])]
    assert ids[0] == 1  # probing all centroids => exact top-1 is self


# -- text -------------------------------------------------------------------

def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of it is that"),
            (2, "der hund und die katze ist nicht ein"),
            (3, "zzz qqq www"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r["lang"] for r in df.select("id", text.lang_id("text").alias("lang")).collect()}
    assert out[1] == "en" and out[2] == "de" and out[3] == "und"


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "hello world, 42 times!")], "id long, text string")
    r = df.select(
        text.token_count_ws("text").alias("ws"),
        text.token_count_bpe_ish("text").alias("bpe"),
    ).collect()[0]
    assert r["ws"] == 4
    assert r["bpe"] > r["ws"]  # subword-ish count exceeds word count


def test_quality_features(spark):
    df = spark.createDataFrame(
        [(1, "A clean readable sentence with normal words for the reader."),
         (2, "!!! ### $$$ 12345 67890 @@@@")],
        "id long, text string",
    )
    out = {r["id"]: r for r in text.quality_features(df, "text").collect()}
    assert out[1]["quality_score"] > out[2]["quality_score"]
    assert out[2]["punct_ratio"] > 0.2


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma   alpha beta"), (3, "alpha beta delta")],
        "id long, text string",
    )
    out = {r["id"]: r["fp"] for r in df.select("id", text.fingerprint("text").alias("fp")).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_ivf_partition_pruning(vecs, spark, tmp_path):
    """The persisted IVF layout must prune unprobed partitions at scan."""
    import contextlib
    import io

    from batch_process_spark.operators.similarity import ivf_index, ivf_read_probe, ivf_write

    assigned, centroids = ivf_index(vecs, n_centroids=2)
    path = str(tmp_path / "ivf")
    ivf_write(assigned, path)
    probe = ivf_read_probe(spark, path, [0])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "centroid_id" in plan
    # only partition-0 vectors come back
    got = {r["centroid_id"] for r in probe.select("centroid_id").distinct().collect()}
    assert got == {0}


def test_redact_pii(spark):
    from batch_process_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [(1, "mail me at bob@x.org, see https://a.b/c?d=1 or call +1 (555) 123-4567 from 192.168.0.1")],
        "id long, text string",
    )
    out = df.select(redact_pii("text").alias("t")).collect()[0]["t"]
    assert "<EMAIL>" in out and "<URL>" in out and "<PHONE>" in out and "<IPV4>" in out
    assert "bob@" not in out and "https" not in out and "555" not in out


def test_ngrams_and_top(spark):
    from batch_process_spark.operators.text import ngrams_col, top_ngrams

    df = spark.createDataFrame([(1, "a b a b c"), (2, "a b")], "id long, text string")
    grams = {r["id"]: r["g"] for r in df.select("id", ngrams_col("text", 2).alias("g")).collect()}
    assert grams[1] == ["a b", "b a", "a b", "b c"]  # frequency-preserving
    assert grams[2] == ["a b"]
    top = top_ngrams(df, "text", 2, 2).collect()
    assert top[0]["ngram"] == "a b" and top[0]["cnt"] == 3


def test_edge_cases_empty_and_null_inputs(spark, vecs):
    """Operators must degrade cleanly on empty frames, NULL/empty text,
    and zero queries (errors-as-data, never job failures)."""
    empty = spark.createDataFrame([], "doc_id long, text string")
    blank = spark.createDataFrame([(1, ""), (2, None)], "doc_id long, text string")
    no_q = spark.createDataFrame([], "query_id long, embedding array<float>")

    assert dedup.exact_dedup(empty, "text", "doc_id").count() == 0
    assert dedup.exact_dedup(blank, "text", "doc_id").count() == 2  # '' vs NULL distinct
    assert dedup.minhash_near_dup_pairs(blank, "doc_id", "text").count() == 0
    assert dedup.simhash_docs(blank, "doc_id", "text").count() == 0  # no tokens -> no rows
    out = similarity.brute_force_topk(vecs, no_q)
    assert out.count() == 0
    assert out.columns == ["query_id", "vec_id", "score", "rank"]
    assert blank.select(text.lang_id("text").alias("l")).collect()[0]["l"] == "und"


def test_connected_components_and_clusters(spark):
    from batch_process_spark.operators.graph import connected_components, dedup_clusters

    # two chains and an isolate-pair: {1-2-3-4}, {10-11}, {20-21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], "id_a long, id_b long"
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    # both strategies must agree exactly
    for strategy in ("driver", "distributed"):
        cc = {
            r["node"]: r["component"]
            for r in connected_components(pairs, strategy=strategy).collect()
        }
        assert cc == expected, strategy
    cc = expected
    cl = dedup_clusters(pairs)
    sizes = {r["node"]: r["cluster_size"] for r in cl.collect()}
    assert sizes[1] == 4 and sizes[11] == 2 and sizes[20] == 2
    # survivors = min id per component -> drop everything else
    survivors = {n for n, c in cc.items() if n == c}
    assert survivors == {1, 10, 20}


def test_connected_components_deep_chain_distributed(spark):
    """Lineage must not blow up with diameter: a 9-hop chain converges
    through the checkpointed loop (pre-fix this OOMed the driver)."""
    from batch_process_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    cc = {r["node"]: r["component"]
          for r in connected_components(pairs, strategy="distributed").collect()}
    assert cc == {i: 0 for i in range(10)}


def test_connected_components_rejects_bad_strategy(spark):
    import pytest as _pytest
    from batch_process_spark.operators.graph import connected_components

    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with _pytest.raises(ValueError, match="strategy"):
        connected_components(pairs, strategy="drver")


def test_brute_force_topk_nan_ranks_first(spark):
    """A zero-norm corpus vector scores NaN against every query; NaN
    sorts as the LARGEST double in both engines' descending order, so
    it must take rank 1 — in the per-partition kernel AND the
    hash-aggregate merge (both once dropped NaN to the tail)."""
    from batch_process_spark.operators.similarity import brute_force_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 0.0])], "query_id long, embedding array<double>"
    )
    out = {r["rank"]: r["vec_id"] for r in brute_force_topk(corpus, queries, k=3).collect()}
    assert out[1] == 3  # NaN (zero-norm) ranks first, matching desc/NaN-largest
    assert out[2] == 1  # then exact match, score 1.0


def test_connected_components_report_and_no_driver_pass(spark):
    """The distributed branch reports its telemetry (strategy + label
    propagation rounds) and labels a generated chain graph correctly —
    the same shape BASELINE §5f measures at 10M+ pairs. Forcing
    'distributed' must also skip the auto-arbitration count (a full
    extra pass over the pair stream at real scale): the driver path
    reports rounds=0, the distributed path reports the chain diameter
    plus the final no-change round."""
    from pyspark.sql import functions as F

    from batch_process_spark.operators.graph import connected_components

    n, chain = 400, 4  # 400 nodes in 100 chains of 4
    pairs = (
        spark.range(n)
        .filter((F.col("id") % chain) != chain - 1)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    rep = {}
    out = connected_components(pairs, strategy="distributed", report=rep)
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {i: i - i % chain for i in range(n)}
    assert rep["strategy"] == "distributed"
    # chain diameter 3 -> labels settle by round 3; one more round
    # observes no change and terminates
    assert 3 <= rep["rounds"] <= 4
    rep2 = {}
    connected_components(pairs, strategy="driver", report=rep2)
    assert rep2 == {"strategy": "driver", "rounds": 0}


def test_stream_neardup_matches_batch_self_join(spark):
    """The corpus-index path (streaming/neardup.py) run over a BATCH
    frame must flag exactly the cross-split pairs the batch self-join
    pipeline finds, modulo per-band duplicate emissions (documented:
    distinct() at the sink)."""
    from batch_process_spark.operators.dedup import minhash_near_dup_pairs
    from batch_process_spark.streaming.neardup import (
        build_lsh_index,
        stream_neardup_against_corpus,
    )

    rows = [(i, f"alpha beta gamma delta epsilon zeta eta theta doc{i}") for i in range(30)]
    rows += [(100 + i, f"alpha beta gamma delta epsilon zeta eta theta doc{i} tail") for i in range(0, 30, 3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = df.filter(F.col("doc_id") < 100)
    incoming = df.filter(F.col("doc_id") >= 100)

    index = build_lsh_index(corpus)
    try:
        got = {
            (r["stream_id"], r["corpus_id"], r["jaccard_sim"])
            for r in stream_neardup_against_corpus(incoming, index).distinct().collect()
        }
    finally:
        index.unpersist()

    full = minhash_near_dup_pairs(df, "doc_id", "text")
    expect = {
        (r["id_b"], r["id_a"], r["jaccard_sim"])
        for r in full.collect()
        if r["id_b"] >= 100 and r["id_a"] < 100
    }
    assert got == expect and got  # non-vacuous


def test_connected_components_null_pairs_agree_across_strategies(spark):
    """NULL ids cannot participate in connectivity: both strategies must
    drop them (the driver union-find used to crash comparing int to
    None while the distributed joins silently dropped)."""
    from batch_process_spark.operators.graph import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (None, 42), (7, None), (2, 3)], "id_a long, id_b long"
    )
    for strat in ("driver", "distributed"):
        got = {
            (r["node"], r["component"])
            for r in connected_components(pairs, strategy=strat).collect()
        }
        assert got == {(1, 1), (2, 1), (3, 1)}, strat


def test_connected_components_driver_types_widest_of_both_columns(spark):
    """Mixed int/bigint pair columns: the driver path must type the
    output at the wider column (node ids come from BOTH sides)."""
    from batch_process_spark.operators.graph import connected_components

    big = 2**40
    pairs = spark.createDataFrame([(1, big)], "id_a int, id_b long")
    got = {
        (r["node"], r["component"])
        for r in connected_components(pairs, strategy="driver").collect()
    }
    assert got == {(1, 1), (big, 1)}


def test_ivf_auto_nprobe(spark):
    """nprobe="auto" (round 8): per-query adaptive probing calibrated
    from ivf_index_stats. On a two-blob corpus an interior query (deep
    inside one blob) probes FEWER cells than a boundary query (midway
    between blobs), recall for the boundary query still finds the true
    neighbors, and every probe set respects the floor >= ceil(3k/mean
    cell)."""
    import numpy as np

    from batch_process_spark.operators.similarity import (
        brute_force_topk,
        ivf_index,
        ivf_index_stats,
        ivf_probe_sets,
        ivf_topk,
    )

    rng = np.random.default_rng(3)
    a = rng.normal(loc=(5.0, 0.0, 0.0, 0.0), scale=0.2, size=(60, 4))
    b = rng.normal(loc=(-5.0, 0.0, 0.0, 0.0), scale=0.2, size=(60, 4))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([a, b]))]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = ivf_index(corpus, n_centroids=4)
    stats = ivf_index_stats(assigned, cents)
    assert stats["n_vectors"] == 120 and sum(stats["cell_sizes"].values()) == 120
    assert stats["mean_within_dist"] >= 0.0

    queries = spark.createDataFrame(
        [(0, [5.0, 0.0, 0.0, 0.0]), (1, [0.1, 3.0, 0.0, 0.0])],
        "query_id long, embedding array<double>",
    )  # q0 interior to blob a; q1 near the angular boundary
    probes = ivf_probe_sets(cents, queries, k=3, nprobe="auto", stats=stats).collect()
    per_q = {}
    for r in probes:
        per_q.setdefault(r["query_id"], set()).add(r["centroid_id"])
    import math

    floor = max(1, math.ceil(3 * 3 / stats["mean_cell_size"]))
    assert all(len(v) >= floor for v in per_q.values())
    assert len(per_q[1]) >= len(per_q[0]), per_q  # boundary fans out at least as wide

    # auto answers match brute force for the interior query (its whole
    # neighborhood lives in the probed cells)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(corpus, queries.filter("query_id = 0"), k=3).collect()
    }
    auto = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(
            assigned, cents, queries.filter("query_id = 0"), k=3, nprobe="auto", stats=stats
        ).collect()
    }
    assert auto == exact

    # stats are computed on demand when neither stats nor assigned given
    import pytest as _pytest

    with _pytest.raises(ValueError, match="auto"):
        ivf_probe_sets(cents, queries, k=3, nprobe="auto")


def test_ivf_write_persists_meta_for_auto_nprobe(spark, tmp_path):
    """ivf_write(centroids=...) persists centroids + ivf_index_stats
    under path/_ivf_meta; ivf_read_index restores them EXACTLY (int
    cell keys included), the data read ignores the meta dir, and
    nprobe="auto" off the stored index matches auto off fresh stats —
    the serving process needs no float-corpus rescan at startup."""
    import numpy as np

    from batch_process_spark.operators.similarity import (
        ivf_index,
        ivf_index_stats,
        ivf_read_index,
        ivf_topk,
        ivf_write,
    )

    rng = np.random.default_rng(11)
    a = rng.normal(loc=(5.0, 0.0, 0.0, 0.0), scale=0.2, size=(40, 4))
    b = rng.normal(loc=(-5.0, 0.0, 0.0, 0.0), scale=0.2, size=(40, 4))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([a, b]))]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, cents = ivf_index(corpus, n_centroids=2)
    fresh = ivf_index_stats(assigned, cents)

    path = str(tmp_path / "ividx")
    ivf_write(assigned, path, centroids=cents)  # stats computed inside
    loaded_df, loaded_cents, loaded = ivf_read_index(spark, path)

    assert loaded_cents == [[float(x) for x in c] for c in cents]
    assert loaded["cell_sizes"] == fresh["cell_sizes"]  # int keys restored
    assert loaded["n_vectors"] == fresh["n_vectors"]
    assert abs(loaded["mean_within_dist"] - fresh["mean_within_dist"]) < 1e-12
    # the _ivf_meta dir is invisible to the parquet scan
    assert loaded_df.count() == 80 and "value" not in loaded_df.columns

    queries = spark.createDataFrame(
        [(0, [5.0, 0.0, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    off_store = {
        tuple(r)
        for r in ivf_topk(
            loaded_df, loaded_cents, queries, k=3, nprobe="auto", stats=loaded
        ).collect()
    }
    off_fresh = {
        tuple(r)
        for r in ivf_topk(
            assigned, cents, queries, k=3, nprobe="auto", stats=fresh
        ).collect()
    }
    assert off_store == off_fresh

    # the meta load touches ONE tiny file through the FS stream — no
    # Spark job at all (r12: write_index_meta/read_index_meta moved to
    # the Hadoop FS API; ~2 s of per-lifecycle-commit job overhead
    # gone). The `_` prefix keeps it hidden from every Spark scan.
    import os as _os

    assert _os.path.isfile(_os.path.join(path, "_ivf_meta"))

    # precomputed stats are honored verbatim (no recompute job): a
    # sentinel stats dict round-trips
    sentinel = dict(fresh)
    sentinel["mean_within_dist"] = 0.123456
    ivf_write(assigned, path, centroids=cents, stats=sentinel)
    _, _, again = ivf_read_index(spark, path)
    assert again["mean_within_dist"] == 0.123456


def test_ivf_read_index_without_meta_raises_the_designed_error(spark, tmp_path):
    """An index written WITHOUT centroids has no _ivf_meta; loading it
    must raise the explanatory ValueError, not a raw path error."""
    import pytest

    from batch_process_spark.operators.similarity import ivf_read_index, ivf_write

    vecs = spark.createDataFrame(
        [(i, [float(i), 0.0], i % 2) for i in range(8)],
        "vec_id long, embedding array<double>, centroid_id int",
    )
    path = str(tmp_path / "nometa")
    ivf_write(vecs, path)  # no centroids -> no meta
    with pytest.raises(ValueError, match="no _ivf_meta"):
        ivf_read_index(spark, path)


def test_ivf_append_grows_the_stored_index_in_place(spark, tmp_path):
    """Incremental ingest: new vectors assign to the EXISTING centroids
    (no refit), append under the partitioned layout, and the persisted
    auto-nprobe stats merge exactly — n_vectors and cell masses equal
    the sum of the parts, and a query off the stored index retrieves an
    APPENDED vector as its own nearest neighbor."""
    import numpy as np

    from batch_process_spark.operators.similarity import (
        ivf_append,
        ivf_index,
        ivf_index_stats,
        ivf_read_index,
        ivf_topk,
        ivf_write,
    )

    rng = np.random.default_rng(21)
    a = rng.normal(loc=(5.0, 0.0, 0.0, 0.0), scale=0.2, size=(30, 4))
    b = rng.normal(loc=(-5.0, 0.0, 0.0, 0.0), scale=0.2, size=(30, 4))
    part_a = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([a, b]))],
        "vec_id long, embedding array<double>",
    )
    assigned, cents = ivf_index(part_a, n_centroids=2)
    path = str(tmp_path / "growing")
    ivf_write(assigned, path, centroids=cents)

    newv = spark.createDataFrame(
        [(1000, [5.0, 0.3, 0.0, 0.0]), (1001, [-5.0, 0.3, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    inc = ivf_append(spark, path, newv)
    assert inc.count() == 2

    df, cents2, stats2 = ivf_read_index(spark, path)
    assert df.count() == 62
    assert stats2["n_vectors"] == 62
    assert sum(stats2["cell_sizes"].values()) == 62
    base = ivf_index_stats(assigned, cents)
    # each blob-side append landed in that blob's cell
    grown = {
        c: stats2["cell_sizes"][c] - base["cell_sizes"].get(c, 0)
        for c in stats2["cell_sizes"]
    }
    assert sorted(grown.values()) == [1, 1]

    q = spark.createDataFrame(
        [(0, [5.0, 0.3, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    top = ivf_topk(df, cents2, q, k=1, nprobe="auto", stats=stats2).collect()
    assert top[0]["vec_id"] == 1000  # the appended vector IS the NN of itself

    # a float index's increment is the float assignment
    assert set(inc.columns) == {"vec_id", "embedding", "centroid_id"}


def test_ivfpq_append_encodes_with_the_stored_codebook(spark, tmp_path):
    """IVFPQ incremental ingest through the one ivf_append: the
    increment is encoded with the PERSISTED codebook (no retrain),
    appended partitioned, stats merged; search off the stored index
    retrieves the appended vector."""
    import numpy as np

    from batch_process_spark.operators import pq
    from batch_process_spark.operators.similarity import ivf_append, ivf_index_stats

    rng = np.random.default_rng(22)
    vecs = np.vstack([
        rng.normal(loc=(5.0, 0.0, 0.0, 0.0), scale=0.2, size=(20, 4)),
        rng.normal(loc=(-5.0, 0.0, 0.0, 0.0), scale=0.2, size=(20, 4)),
    ])
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).persist()
    corpus.count()
    assigned_codes, cents, cb = pq.ivfpq_index(corpus, subdim=2, k_code=4, n_centroids=2)
    float_assigned = corpus.join(assigned_codes.select("vec_id", "centroid_id"), "vec_id")
    stats = ivf_index_stats(float_assigned, cents)
    path = str(tmp_path / "growing_pq")
    pq.ivfpq_write(assigned_codes, path, cents, cb, subdim=2, stats=stats)

    newv = spark.createDataFrame(
        [(2000, [5.0, 0.2, 0.1, 0.0])], "vec_id long, embedding array<double>"
    )
    inc = ivf_append(spark, path, newv)
    # a codes index's increment is the codes rows
    assert {c for c in inc.columns} == {"vec_id", "centroid_id", "codes"}
    assert inc.count() == 1

    codes2, cents2, cb2, subdim2, stats2 = pq.ivfpq_read(spark, path)
    assert codes2.count() == 41 and stats2["n_vectors"] == 41
    # the appended row's codes match a fresh encode under the same codebook
    enc = pq.pq_encode_fused(newv, cb2, subdim2).collect()[0]["codes"]
    stored = codes2.filter("vec_id = 2000").collect()[0]["codes"]
    assert list(stored) == list(enc)

    full_corpus = corpus.unionByName(newv)
    q = newv.select(F.col("vec_id").alias("query_id"), "embedding")
    top = pq.ivfpq_topk(
        codes2, cents2, cb2, q, subdim=2, corpus=full_corpus,
        k=1, rerank_factor=5, nprobe="auto", stats=stats2,
    ).collect()
    assert top[0]["vec_id"] == 2000
    corpus.unpersist()


def test_merge_index_stats_split_equals_whole(spark):
    """Property: stats(A) merged with stats(B) equals stats(A union B)
    exactly for counts and to float precision for the global mean —
    the invariant ivf_append's incremental maintenance rides on.
    Random corpora via hypothesis-style seeds (no SparkSession needed
    beyond building the frames once per seed)."""
    import numpy as np

    from batch_process_spark.operators.similarity import (
        ivf_assign,
        ivf_index_stats,
        merge_index_stats,
    )

    rng = np.random.default_rng(77)
    cents = [list(map(float, rng.normal(size=4))) for _ in range(3)]
    for seed in (0, 1, 2):
        r = np.random.default_rng(100 + seed)
        va = r.normal(size=(25, 4))
        vb = r.normal(size=(13, 4))
        mk = lambda vs, off: spark.createDataFrame(
            [(off + i, [float(x) for x in v]) for i, v in enumerate(vs)],
            "vec_id long, embedding array<double>",
        )
        a, b = mk(va, 0), mk(vb, 1000)
        sa = ivf_index_stats(ivf_assign(a, cents), cents)
        sb = ivf_index_stats(ivf_assign(b, cents), cents)
        whole = ivf_index_stats(ivf_assign(a.unionByName(b), cents), cents)
        merged = merge_index_stats(sa, sb)
        assert merged["cell_sizes"] == whole["cell_sizes"], seed
        assert merged["n_vectors"] == whole["n_vectors"]
        assert abs(merged["mean_within_dist"] - whole["mean_within_dist"]) < 1e-9
        assert abs(merged["mean_cell_size"] - whole["mean_cell_size"]) < 1e-12


def test_ivf_delete_purges_and_decrements_stats_exactly(spark, tmp_path):
    """Takedown through the stored index: deleted ids vanish from reads
    and serving, ONLY touched cell dirs are rewritten, and the persisted
    stats equal a from-scratch rebuild on the survivors (the
    subtract_index_stats exactness claim)."""
    import os

    import numpy as np

    from batch_process_spark.operators.similarity import (
        ivf_delete,
        ivf_index,
        ivf_index_stats,
        ivf_read_index,
        ivf_topk,
        ivf_write,
    )

    rng = np.random.default_rng(31)
    a = rng.normal(loc=(5.0, 0.0, 0.0, 0.0), scale=0.2, size=(25, 4))
    b = rng.normal(loc=(-5.0, 0.0, 0.0, 0.0), scale=0.2, size=(25, 4))
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([a, b]))],
        "vec_id long, embedding array<double>",
    )
    assigned, cents = ivf_index(corpus, n_centroids=2)
    path = str(tmp_path / "idx")
    ivf_write(assigned, path, centroids=cents)
    v0 = _read_meta_version(spark, path)

    # blob-a ids 0..24; delete three of them (list form)
    doomed = [0, 1, 2]
    cell_of_b = assigned.filter("vec_id = 30").collect()[0]["centroid_id"]
    untouched_dir = os.path.join(path, f"centroid_id={cell_of_b}")
    files_before = sorted(os.listdir(untouched_dir))

    rep = ivf_delete(spark, path, doomed)
    assert rep["n_deleted"] == 3 and rep["cells_rewritten"] == 1
    assert rep["cells_dropped"] == 0
    assert sorted(os.listdir(untouched_dir)) == files_before  # never touched

    df, cents2, stats2 = ivf_read_index(spark, path)
    left_ids = {r["vec_id"] for r in df.select("vec_id").collect()}
    assert left_ids == set(range(50)) - set(doomed)

    # stats equal a from-scratch rebuild on the survivors
    rebuilt = ivf_index_stats(assigned.filter(~F.col("vec_id").isin(doomed)), cents)
    assert stats2["cell_sizes"] == rebuilt["cell_sizes"]
    assert stats2["n_vectors"] == rebuilt["n_vectors"]
    assert abs(stats2["mean_within_dist"] - rebuilt["mean_within_dist"]) < 1e-9
    assert _read_meta_version(spark, path) > v0

    # serving never returns a deleted id
    q = spark.createDataFrame(
        [(0, [float(x) for x in a[0]])], "query_id long, embedding array<double>"
    )
    got = {r["vec_id"] for r in ivf_topk(df, cents2, q, k=5, nprobe=2).collect()}
    assert not (got & set(doomed))

    # emptying a whole cell drops its directory and its stats key
    rest_of_a = [i for i in range(25) if i not in doomed]
    rep2 = ivf_delete(spark, path, rest_of_a)
    assert rep2["cells_dropped"] == 1
    assert len(os.listdir(path)) >= 1
    _, _, stats3 = ivf_read_index(spark, path)
    assert len(stats3["cell_sizes"]) == 1 and stats3["n_vectors"] == 25

    # deleting nothing is a no-op
    rep3 = ivf_delete(spark, path, [99999])
    assert rep3["n_deleted"] == 0


def _read_meta_version(spark, path):
    from batch_process_spark.operators.similarity import read_index_meta

    return int(read_index_meta(spark, path).get("version", 0))


def test_ivfpq_delete_removes_from_serving(spark, tmp_path):
    """Deletion through an IVFPQ codes index: sizes decrement exactly,
    mean_within_dist stays (documented approximation — the floats are
    gone), and ivfpq_topk never surfaces a deleted id."""
    import numpy as np

    from batch_process_spark.operators import pq
    from batch_process_spark.operators.similarity import (
        ivf_delete,
        ivf_index_stats,
    )

    rng = np.random.default_rng(32)
    vecs = np.vstack([
        rng.normal(loc=(5.0, 0.0, 0.0, 0.0), scale=0.2, size=(20, 4)),
        rng.normal(loc=(-5.0, 0.0, 0.0, 0.0), scale=0.2, size=(20, 4)),
    ])
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).persist()
    corpus.count()
    assigned_codes, cents, cb = pq.ivfpq_index(corpus, subdim=2, k_code=4, n_centroids=2)
    float_assigned = corpus.join(assigned_codes.select("vec_id", "centroid_id"), "vec_id")
    stats = ivf_index_stats(float_assigned, cents)
    path = str(tmp_path / "idx_pq")
    pq.ivfpq_write(assigned_codes, path, cents, cb, subdim=2, stats=stats)

    # DataFrame-form ids (the takedown-list path)
    ids_df = spark.createDataFrame([(7,)], "vec_id long")
    rep = ivf_delete(spark, path, ids_df)
    assert rep["n_deleted"] == 1

    codes2, cents2, cb2, subdim2, stats2 = pq.ivfpq_read(spark, path)
    assert codes2.filter("vec_id = 7").count() == 0
    assert stats2["n_vectors"] == stats["n_vectors"] - 1
    assert abs(stats2["mean_within_dist"] - stats["mean_within_dist"]) < 1e-12

    q = spark.createDataFrame(
        [(0, [float(x) for x in vecs[7]])], "query_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]
        for r in pq.ivfpq_topk(
            codes2, cents2, cb2, q, subdim=subdim2, corpus=corpus,
            k=5, nprobe=2,
        ).collect()
    }
    assert 7 not in got and got  # neighbors still served
    corpus.unpersist()


def test_ivf_recluster_restores_balance_after_skewed_growth(spark, tmp_path):
    """The drift consumer: skewed appends pile into few cells; recluster
    re-trains + re-assigns + swaps, skew drops, content and version
    continuity are preserved; a balanced index is a no-op."""
    import numpy as np

    from batch_process_spark.operators.similarity import (
        index_skew,
        ivf_append,
        ivf_index,
        ivf_read_index,
        ivf_recluster,
        ivf_write,
        read_index_meta,
    )

    rng = np.random.default_rng(33)
    a = rng.normal(loc=(5.0, 0.0, 0.0, 0.0), scale=0.3, size=(20, 4))
    b = rng.normal(loc=(4.0, 1.0, 0.0, 0.0), scale=0.3, size=(20, 4))
    base = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([a, b]))],
        "vec_id long, embedding array<double>",
    )
    assigned, cents = ivf_index(base, n_centroids=2)
    path = str(tmp_path / "drifting")
    ivf_write(assigned, path, centroids=cents)

    # balanced: no-op below threshold
    rep0 = ivf_recluster(spark, path, skew_threshold=1.9)
    assert rep0["reclustered"] is False and rep0["skew"] < 1.9

    # out-of-distribution growth: 4 batches all landing in ONE cell
    for batch in range(4):
        newv = spark.createDataFrame(
            [
                (1000 + batch * 100 + j,
                 [float(x) for x in rng.normal((-6.0, 0.0, 0.0, 0.0), 0.2)])
                for j in range(20)
            ],
            "vec_id long, embedding array<double>",
        )
        ivf_append(spark, path, newv)

    meta = read_index_meta(spark, path)
    skew_before = index_skew(meta["stats"])
    assert skew_before > 1.5
    v_before = int(meta["version"])

    rep = ivf_recluster(spark, path, skew_threshold=1.5, seed=7)
    assert rep["reclustered"] is True
    assert rep["skew_after"] < rep["skew"]

    df, cents2, stats2 = ivf_read_index(spark, path)
    assert df.count() == 120 and stats2["n_vectors"] == 120
    assert _read_meta_version(spark, path) > v_before  # monotonic across swap
    assert len(cents2) == 2


def test_ivfpq_recluster_reencodes_with_persisted_codebook(spark, tmp_path):
    """IVFPQ recluster: refuses without the float corpus; with it, the
    coarse layout re-trains while codes still match a fresh encode
    under the PERSISTED codebook (no retrain)."""
    import numpy as np
    import pytest

    from batch_process_spark.operators import pq
    from batch_process_spark.operators.similarity import (
        ivf_index_stats,
        ivf_recluster,
    )

    rng = np.random.default_rng(34)
    vecs = np.vstack([
        rng.normal(loc=(5.0, 0.0, 0.0, 0.0), scale=0.2, size=(20, 4)),
        rng.normal(loc=(-5.0, 0.0, 0.0, 0.0), scale=0.2, size=(20, 4)),
    ])
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    ).persist()
    corpus.count()
    assigned_codes, cents, cb = pq.ivfpq_index(corpus, subdim=2, k_code=4, n_centroids=2)
    float_assigned = corpus.join(assigned_codes.select("vec_id", "centroid_id"), "vec_id")
    stats = ivf_index_stats(float_assigned, cents)
    path = str(tmp_path / "pq_drift")
    pq.ivfpq_write(assigned_codes, path, cents, cb, subdim=2, stats=stats)

    with pytest.raises(ValueError, match="needs corpus"):
        ivf_recluster(spark, path, force=True)

    rep = ivf_recluster(spark, path, corpus=corpus, force=True, seed=9)
    assert rep["reclustered"] is True

    codes2, cents2, cb2, subdim2, stats2 = pq.ivfpq_read(spark, path)
    assert codes2.count() == 40 and stats2["n_vectors"] == 40
    # codes identical to a fresh encode under the SAME (persisted) codebook
    fresh = {
        r["vec_id"]: list(r["codes"])
        for r in pq.pq_encode_fused(corpus, cb2, subdim2).collect()
    }
    for r in codes2.select("vec_id", "codes").collect():
        assert list(r["codes"]) == fresh[r["vec_id"]]
    corpus.unpersist()


def test_compact_index_bounds_files_preserving_answers(spark, tmp_path):
    """Repeated appends accrete one file set per batch per cell;
    compact_index rewrites cell dirs down without changing answers,
    stats, or the meta version (content is identical)."""
    import numpy as np

    from batch_process_spark.operators.similarity import (
        compact_index,
        ivf_append,
        ivf_index,
        ivf_read_index,
        ivf_topk,
        ivf_write,
    )
    from batch_process_spark.sinks.compact import parquet_files

    rng = np.random.default_rng(35)
    a = rng.normal(loc=(5.0, 0.0, 0.0, 0.0), scale=0.2, size=(20, 4))
    b = rng.normal(loc=(-5.0, 0.0, 0.0, 0.0), scale=0.2, size=(20, 4))
    base = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(np.vstack([a, b]))],
        "vec_id long, embedding array<double>",
    )
    assigned, cents = ivf_index(base, n_centroids=2)
    path = str(tmp_path / "accreting")
    ivf_write(assigned, path, centroids=cents)

    for batch in range(5):
        newv = spark.createDataFrame(
            [
                (2000 + batch * 10 + j,
                 [float(x) for x in rng.normal((5.0, 0.0, 0.0, 0.0), 0.2)])
                for j in range(3)
            ],
            "vec_id long, embedding array<double>",
        )
        ivf_append(spark, path, newv)

    v_before = _read_meta_version(spark, path)
    df0, cents0, stats0 = ivf_read_index(spark, path)
    q = spark.createDataFrame(
        [(0, [5.0, 0.1, 0.0, 0.0])], "query_id long, embedding array<double>"
    )
    before = [
        (r["query_id"], r["vec_id"], r["score"])
        for r in ivf_topk(df0, cents0, q, k=5, nprobe=2).collect()
    ]

    n_files_before = len(parquet_files(path))
    rep = compact_index(spark, path, target_mb=128, min_files=3)
    assert rep["cells_compacted"] >= 1
    assert rep["files_after"] < rep["files_before"] == n_files_before

    df1, cents1, stats1 = ivf_read_index(spark, path)
    assert df1.count() == 55 and stats1 == stats0
    assert _read_meta_version(spark, path) == v_before  # content unchanged
    after = [
        (r["query_id"], r["vec_id"], r["score"])
        for r in ivf_topk(df1, cents1, q, k=5, nprobe=2).collect()
    ]
    assert after == before


def test_subtract_index_stats_inverts_merge(spark):
    """Property: subtract(merge(A, B), B) == A exactly for counts and
    to float precision for the mean — the invariant ivf_delete's exact
    stats decrement rides on."""
    import numpy as np

    from batch_process_spark.operators.similarity import (
        merge_index_stats,
        subtract_index_stats,
    )

    rng = np.random.default_rng(36)
    for trial in range(25):
        cells = rng.integers(1, 6)
        A = {
            "cell_sizes": {int(c): int(rng.integers(1, 50)) for c in range(cells)},
            "mean_within_dist": float(rng.uniform(0, 0.5)),
        }
        B = {
            "cell_sizes": {
                int(c): int(rng.integers(1, 50))
                for c in rng.choice(cells + 2, size=rng.integers(1, cells + 1), replace=False)
            },
            "mean_within_dist": float(rng.uniform(0, 0.5)),
        }
        for s in (A, B):
            s["n_vectors"] = sum(s["cell_sizes"].values())
            s["mean_cell_size"] = s["n_vectors"] / len(s["cell_sizes"])
        back = subtract_index_stats(merge_index_stats(A, B), B)
        assert back["cell_sizes"] == A["cell_sizes"]
        assert back["n_vectors"] == A["n_vectors"]
        assert abs(back["mean_within_dist"] - A["mean_within_dist"]) < 1e-9


def test_ivf_delete_matches_rebuild_property(spark):
    """Property (hypothesis-style seeds): for ANY random corpus and ANY
    random delete subset, the stats ivf_delete persists equal
    ivf_index_stats recomputed from scratch on the survivors — counts
    exactly, the mean to float tolerance — and the surviving id set is
    exactly corpus minus doomed."""
    import shutil
    import tempfile

    import numpy as np

    from batch_process_spark.operators.similarity import (
        ivf_delete,
        ivf_index,
        ivf_index_stats,
        ivf_read_index,
        ivf_write,
    )

    for seed in (101, 202, 303):
        rng = np.random.default_rng(seed)
        n = int(rng.integers(40, 90))
        vecs = rng.normal(size=(n, 6)) + rng.choice(
            [(4.0, 0, 0, 0, 0, 0), (-4.0, 0, 0, 0, 0, 0), (0, 4.0, 0, 0, 0, 0)],
            size=n,
        )
        corpus = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>",
        )
        assigned, cents = ivf_index(corpus, n_centroids=3, seed=seed)
        doomed = sorted(
            int(i) for i in rng.choice(n, size=int(rng.integers(1, n - 1)),
                                        replace=False)
        )
        d = tempfile.mkdtemp(prefix="delprop_")
        try:
            path = d + "/idx"
            ivf_write(assigned, path, centroids=cents)
            rep = ivf_delete(spark, path, doomed)
            assert rep["n_deleted"] == len(doomed)

            df, cents2, stats2 = ivf_read_index(spark, path)
            left = {r["vec_id"] for r in df.select("vec_id").collect()}
            assert left == set(range(n)) - set(doomed)

            rebuilt = ivf_index_stats(
                assigned.filter(~F.col("vec_id").isin(doomed)), cents
            )
            assert stats2["cell_sizes"] == rebuilt["cell_sizes"]
            assert stats2["n_vectors"] == rebuilt["n_vectors"]
            assert abs(stats2["mean_within_dist"] - rebuilt["mean_within_dist"]) < 1e-9
            assert abs(stats2["mean_cell_size"] - rebuilt["mean_cell_size"]) < 1e-9
        finally:
            shutil.rmtree(d)


def test_index_meta_version_monotonic_across_lifecycle(spark, tmp_path):
    """The full maintenance chain on one index — write, 2x append,
    delete, recluster, compact — leaves the meta version STRICTLY
    increasing at every mutating step and unchanged across compaction
    (content identical); stats stay consistent with a full recount
    after the whole chain."""
    import numpy as np

    from batch_process_spark.operators.similarity import (
        compact_index,
        ivf_append,
        ivf_delete,
        ivf_index,
        ivf_read_index,
        ivf_recluster,
        ivf_write,
        read_index_meta,
    )

    rng = np.random.default_rng(71)
    base = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal((5.0, 0, 0, 0), 0.3)]) for i in range(30)]
        + [(100 + i, [float(x) for x in rng.normal((-5.0, 0, 0, 0), 0.3)])
           for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    assigned, cents = ivf_index(base, n_centroids=2)
    path = str(tmp_path / "chain")
    ivf_write(assigned, path, centroids=cents)

    def version():
        return int(read_index_meta(spark, path)["version"])

    v = [version()]
    for b in range(2):
        ivf_append(spark, path, spark.createDataFrame(
            [(1000 + b * 10 + j,
              [float(x) for x in rng.normal((5.0, 0, 0, 0), 0.3)])
             for j in range(5)],
            "vec_id long, embedding array<double>",
        ))
        v.append(version())
    ivf_delete(spark, path, [0, 1, 100])
    v.append(version())
    ivf_recluster(spark, path, force=True, seed=5)
    v.append(version())
    assert v == sorted(set(v)), v  # strictly increasing

    compact_index(spark, path, min_files=2)
    assert version() == v[-1]  # compaction changes no content

    df, cents2, stats = ivf_read_index(spark, path)
    assert df.count() == 67 and stats["n_vectors"] == 67
    assert sum(stats["cell_sizes"].values()) == 67
