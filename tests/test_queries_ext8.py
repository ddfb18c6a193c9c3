"""Semantics tests for the part-9 query catalog (q127-q136): the
engine-portable sketches and fuzzy matching. Each query is hash-checked
vs DuckDB by selfcheck/the driver; these tests pin the PROPERTIES the
hash can't see — sketch error bounds, one-sided estimates, no false
negatives, blocking losslessness."""

import hashlib
import math

from batch_process_spark.queries import QUERIES, _t
import batch_process_spark.queries_ext8  # noqa: F401  (registers q127+)

SF = "/root/testdata/sf0.001"


def test_q127_hll_estimates_within_bound(spark):
    """p=8 HLL has ~6.5% RSD; every scope must land within 5 sigma of
    exact (a deterministic construction: this either holds forever or
    the hash/rho math broke). At sf0.001 the per-scope cardinalities
    (~300) sit BELOW the 2.5m=640 threshold, so the linear-counting
    branch is the one producing these estimates; sf0.01+ exercises the
    raw harmonic branch — both live under the same oracle."""
    rows = QUERIES["q127_hll_distinct"](spark, SF).collect()
    scopes = {r["scope"] for r in rows}
    assert "ALL" in scopes and len(scopes) >= 3
    for r in rows:
        rel_err = abs(r["hll_estimate"] - r["exact_distinct"]) / r["exact_distinct"]
        assert rel_err < 5 * 1.04 / math.sqrt(256), (r["scope"], rel_err)
        assert r["err_bp"] == round(rel_err * 10000) or abs(r["err_bp"] - rel_err * 10000) <= 1


def test_q127_merged_row_dominates_each_stream(spark):
    """The ALL row sketches the UNION of the per-type streams, so its
    estimate must be >= the largest per-type estimate (register-wise
    max can only raise registers) and <= the sum (union bound)."""
    rows = {r["scope"]: r for r in QUERIES["q127_hll_distinct"](spark, SF).collect()}
    per_type = [r["hll_estimate"] for s, r in rows.items() if s != "ALL"]
    merged = rows["ALL"]["hll_estimate"]
    assert merged >= max(per_type)
    assert merged <= sum(per_type)


def test_q127_registers_match_python_hll(spark):
    """Register table vs a pure-Python recompute (hashlib md5): every
    (scope, bucket) max-rho must agree — the distributed max-agg adds
    nothing to the per-key hash math."""
    from pyspark.sql import functions as F

    from batch_process_spark.operators.sketches import hll_register_table

    ev = _t(spark, SF, "events")
    key = F.concat_ws(
        ":", F.col("user_id").cast("string"),
        F.date_trunc("hour", F.col("ts")).cast("string"),
    )
    keyed = ev.select(F.col("event_type"), key.alias("key"))
    got = {
        (r["event_type"], r["bucket"]): r["max_rho"]
        for r in hll_register_table(keyed, "key", ["event_type"]).collect()
    }

    want = {}
    for r in keyed.collect():
        h = hashlib.md5(r["key"].encode()).hexdigest()
        bucket = int(h[:2], 16)
        w = int(h[2:14], 16)
        rho = 49 if w == 0 else 49 - w.bit_length()
        k = (r["event_type"], bucket)
        want[k] = max(want.get(k, 0), rho)
    assert got == want


def test_q128_cms_never_underestimates(spark):
    """The defining CMS property: min-over-rows estimates are an upper
    bound on the true count, and with the deliberately tight width some
    overcounts must actually be visible (collisions exercised)."""
    rows = QUERIES["q128_cms_heavy_hitters"](spark, SF).collect()
    assert len(rows) == 20
    assert all(r["cms_estimate"] >= r["exact_cnt"] for r in rows)
    assert all(r["overcount"] == r["cms_estimate"] - r["exact_cnt"] for r in rows)
    assert any(r["overcount"] > 0 for r in rows), (
        "no collisions at w=256 — fixture vocabulary changed? widen checks"
    )


def test_q128_counter_table_is_fixed_size(spark):
    """The counter table must be <= depth*width rows whatever the
    corpus — the bounded-state property that makes CMS shippable."""
    from pyspark.sql import functions as F

    from batch_process_spark.operators.sketches import cms_counter_table

    docs = _t(spark, SF, "documents")
    from batch_process_spark.operators.dedup import tokens_col

    counts = (
        docs.select(F.explode(tokens_col("text")).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    )
    counters = cms_counter_table(counts, depth=4, width=32)
    assert counters.count() <= 4 * 32
    # cells sum to depth * total occurrences (every occurrence lands
    # in exactly one bucket per row)
    total = counts.agg(F.sum("cnt")).collect()[0][0]
    cells = counters.agg(F.sum("cell")).collect()[0][0]
    assert cells == 4 * total


def test_q129_no_false_negatives(spark):
    """Bloom may overadmit, never underadmit: bloom_rows >= exact_rows
    per type. The FP-visibility check runs at sf0.01 — the oracle
    fixture — because sf0.001's 6-user build side underfills m=128 and
    legitimately produces zero false positives."""
    rows = QUERIES["q129_bloom_semi_join"](spark, SF).collect()
    assert rows, "no event types"
    assert all(r["bloom_rows"] >= r["exact_rows"] for r in rows)
    assert all(r["false_pos_rows"] == r["bloom_rows"] - r["exact_rows"] for r in rows)

    rows01 = QUERIES["q129_bloom_semi_join"](spark, "/root/testdata/sf0.01").collect()
    assert any(r["false_pos_rows"] > 0 for r in rows01), (
        "bloom FP path vacuous at the oracle fixture"
    )


def test_q129_probe_admits_every_build_key(spark):
    """Every flagged user's own events must pass the filter (the
    no-false-negative guarantee, checked at the row level)."""
    from pyspark.sql import functions as F

    from batch_process_spark.operators.sketches import bloom_bit_positions, bloom_probe

    ev = _t(spark, SF, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    flagged = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id").agg(F.sum(cents).alias("spend"))
        .filter(F.col("spend") > 70_000).select("user_id")
    )
    bits = bloom_bit_positions(flagged, "user_id", k=3, m_bits=128)
    passed_users = {
        r["user_id"]
        for r in bloom_probe(ev, bits, "user_id", k=3, m_bits=128)
        .select("user_id").distinct().collect()
    }
    for r in flagged.collect():
        assert r["user_id"] in passed_users


def test_q131_stream_equals_batch_sketch(spark):
    """The streaming register table must equal the batch q127 sketch
    over the same rows — MAX aggregation is batching-insensitive, so
    any divergence is a bug in the stream plumbing, not the math.
    Estimates and hit-counts must match the batch per-type values."""
    batch = {
        r["scope"]: r["hll_estimate"]
        for r in QUERIES["q127_hll_distinct"](spark, SF).collect()
        if r["scope"] != "ALL"
    }
    streamed = {
        r["scope"]: r["hll_estimate"]
        for r in QUERIES["q131_streaming_hll"](spark, SF).collect()
    }
    assert streamed == batch


def test_q131_state_is_bounded(spark):
    """The complete-mode result table (== the streaming state) must be
    <= types x 256 rows — the bounded-state property that makes the
    sketch streamable at all."""
    rows = QUERIES["q131_streaming_hll"](spark, SF).collect()
    types = {r["scope"] for r in rows}
    assert all(r["n_registers_hit"] <= 256 for r in rows)
    assert len(types) >= 3


def test_q132_union_bounds_and_identity(spark):
    """Register-max union monotonicity is EXACT (raising registers can
    only raise the estimate, both branches): est_union >= each side.
    Subadditivity (union <= a + b) holds only up to sketch noise —
    independent per-scope errors can overshoot by ~sigma, so it gets a
    5% margin, not equality. The intersection column is exactly
    clamp(a + b - union, >= 0)."""
    rows = QUERIES["q132_hll_set_algebra"](spark, SF).collect()
    assert len(rows) >= 3
    for r in rows:
        assert r["est_union"] >= max(r["est_a"], r["est_b"]) - 1  # -1: rounding
        assert r["est_union"] <= (r["est_a"] + r["est_b"]) * 1.05 + 1
        assert r["est_intersection"] == max(0, r["est_a"] + r["est_b"] - r["est_union"])
        assert r["exact_intersection"] >= 0


def test_q133_matches_python_kmv(spark):
    """Full pure-Python recompute of the KMV pipeline (hashlib md5,
    sorted sets): sketches, pairwise merged sketches, union and
    intersection estimates must agree EXACTLY with the distributed
    version — the windows/joins add nothing to the per-key math."""
    from pyspark.sql import functions as F

    K, R = 128, 1 << 60
    rows = QUERIES["q133_kmv_intersection"](spark, SF).collect()
    got = {(r["type_a"], r["type_b"]): (r["kmv_union"], r["kmv_intersection"]) for r in rows}

    ev = _t(spark, SF, "events")
    key = F.concat_ws(
        ":", F.col("user_id").cast("string"),
        F.date_trunc("hour", F.col("ts")).cast("string"),
    )
    keyed = [(r["event_type"], r["key"]) for r in ev.select(F.col("event_type"), key.alias("key")).collect()]

    sets: dict = {}
    for t, k_ in keyed:
        sets.setdefault(t, set()).add(int(hashlib.md5(k_.encode()).hexdigest()[:15], 16))
    sketches = {t: sorted(s)[:K] for t, s in sets.items()}

    want = {}
    for ta in sketches:
        for tb in sketches:
            if ta >= tb:
                continue
            sa, sb = set(sketches[ta]), set(sketches[tb])
            x = sorted(sa | sb)[:K]
            nx, kth = len(x), max(x)
            matches = sum(1 for v in x if v in sa and v in sb)
            if nx < K:
                want[(ta, tb)] = (nx, matches)
            else:
                raw = (K - 1) * float(R) / kth
                want[(ta, tb)] = (
                    math.floor(raw + 0.5),
                    math.floor(matches * raw / float(K) + 0.5),
                )
    assert got == want


def test_q133_kmv_intersection_tighter_than_hll(spark):
    """The reason q133 exists: on the same fixture, KMV's intersection
    error must be tighter in aggregate than q132's HLL
    inclusion-exclusion (whose error scales with union size).
    Deterministic constructions — this comparison is stable."""
    kmv = QUERIES["q133_kmv_intersection"](spark, SF).collect()
    hll = {
        (r["type_a"], r["type_b"]): r
        for r in QUERIES["q132_hll_set_algebra"](spark, SF).collect()
    }
    kmv_err = hll_err = 0
    for r in kmv:
        h = hll[(r["type_a"], r["type_b"])]
        assert r["exact_intersection"] == h["exact_intersection"]
        kmv_err += abs(r["kmv_intersection"] - r["exact_intersection"])
        hll_err += abs(h["est_intersection"] - h["exact_intersection"])
    assert kmv_err < hll_err, (kmv_err, hll_err)


def test_q134_state_carries_across_batches(spark):
    """Drive the stateful stream on a FRESH slice dir and observe the
    raw update-mode emissions: a user appearing in several micro-
    batches emits several rows with strictly increasing n_events —
    proof the state store carried (count, cents) between batches
    rather than recomputing per batch."""
    import os

    from batch_process_spark.operators.caching import _STAGED_DIRS
    from batch_process_spark.queries import _events_stream
    from batch_process_spark.streaming.stateful import running_totals_cents_stream
    from batch_process_spark.streaming.windows import drive_stream_to_memory

    import shutil

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stale = _STAGED_DIRS.pop((os.path.abspath(SF), "t134_fresh_slices_"), None)
    if stale:  # don't orphan the previous run's staged copy in /tmp
        shutil.rmtree(stale, ignore_errors=True)
    stream, feeds = _events_stream(spark, SF, "t134_fresh", n_slices=3)
    out = drive_stream_to_memory(
        spark, running_totals_cents_stream(stream), "t134_out", "update", feeds=feeds,
    )
    rows = out.collect()
    users = {r["user_id"] for r in rows}
    assert len(rows) > len(users), "no user emitted twice — state never carried"
    per_user: dict = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append((r["n_events"], r["total_cents"]))
    assert any(len(v) >= 3 for v in per_user.values()), "nobody spanned all 3 batches"
    for v in per_user.values():
        ns = [n for n, _ in v]
        # each batch's emission grows the count — all distinct
        assert len(set(ns)) == len(ns)
        # monotone state: ordering by n_events must order cents too
        paired = sorted(v)
        assert all(paired[i][1] <= paired[i + 1][1] for i in range(len(paired) - 1))


def test_q134_final_state_equals_batch(spark):
    """The catalog query's final-state selection must equal the direct
    batch aggregation (exact integers — no tolerance needed)."""
    from pyspark.sql import functions as F

    got = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in QUERIES["q134_stateful_running_totals"](spark, SF).collect()
    }
    ev = _t(spark, SF, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    want = {
        r["user_id"]: (r["n"], r["c"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c"))
        .collect()
    }
    assert got == want


def test_q135_error_bound_and_monotonicity(spark):
    """The sketch's 1/16 (625 bp) bound is structural ONLY versus the
    exact element at the chosen rank; the err columns compare against
    the INTERPOLATED percentile, where a sparse group could legally
    interpolate across buckets and exceed it. The TPC-H price columns
    are dense (~20k values per flag), so 625 bp holds here and guards
    against bucket-math regressions; quantile estimates must also be
    monotone in p."""
    rows = QUERIES["q135_ddsketch_quantiles"](spark, SF).collect()
    assert len(rows) >= 2
    for r in rows:
        for col in ("err50_bp", "err90_bp", "err99_bp"):
            assert r[col] <= 625, (r["flag"], col, r[col])
        assert r["est_p50_cents"] <= r["est_p90_cents"] <= r["est_p99_cents"]


def test_q135_bucket_table_is_bounded(spark):
    """The sketch state per group is the (octave, sub-bucket) counter
    table — <= 64 x 16 rows whatever the input size."""
    from pyspark.sql import functions as F

    li = _t(spark, SF, "lineitem")
    c = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    n = (
        li.select(F.col("l_returnflag").alias("flag"), c.alias("c"))
        .selectExpr("flag", "length(bin(c)) AS b", "c >> greatest(length(bin(c)) - 5, 0) AS high")
        .groupBy("flag")
        .agg(F.count_distinct("b", "high").alias("nb"))
        .collect()
    )
    assert all(r["nb"] <= 64 * 16 for r in n)


def test_q130_matches_bruteforce_editdistance(spark):
    """The blocked join must return EXACTLY the brute-force O(n^2)
    answer over the name dictionary — blocking is lossless for d<=2."""
    rows = QUERIES["q130_fuzzy_name_join"](spark, SF).collect()
    got = {(r["name_a"], r["name_b"]): r["dist"] for r in rows}
    assert len(got) == len(rows), "duplicate pairs from block replication"

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    names = sorted(
        {r["p_name"] for r in _t(spark, SF, "part").select("p_name").distinct().collect()}
    )
    want = {}
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            d = lev(a, b)
            if d <= 2:
                want[(a, b)] = d
    assert got == want
    assert any(d > 0 for d in got.values()), "only exact dupes — distance path unexercised"


def test_release_all_clears_staged_event_dirs(spark):
    """invalidate_tables must not leave stale micro-batch slice dirs
    behind: a slice dir snapshots the events table, so after a
    mid-session rewrite the stream would replay old rows."""
    import os

    from batch_process_spark.operators.caching import _STAGED_DIRS, release_all
    from batch_process_spark.queries import _events_stream

    _events_stream(spark, SF, "t_release_probe", n_slices=3)
    d = _STAGED_DIRS[(os.path.abspath(SF), "t_release_probe_slices_")]
    assert os.path.isdir(d)
    release_all()
    assert not _STAGED_DIRS, "staged-dir memo survived release"
    assert not os.path.isdir(d), "staged dir left on disk after release"


def test_q136_profile_sanity(spark):
    """One row per profiled column; n_rows equal across columns (one
    table), estimates within 5-sigma HLL error of exact, and
    tiny-cardinality columns (priority/status) effectively exact —
    linear counting with mostly-empty registers degenerates to a
    per-bucket count."""
    rows = QUERIES["q136_table_profile"](spark, SF).collect()
    assert len(rows) == 6
    n_rows = {r["n_rows"] for r in rows}
    assert len(n_rows) == 1
    for r in rows:
        assert r["n_nulls"] == 0  # fixture has no NULLs; column exists to count them
        rel = abs(r["approx_distinct"] - r["exact_distinct"]) / max(r["exact_distinct"], 1)
        assert rel < 5 * 1.04 / math.sqrt(256), (r["col_name"], rel)
        if r["exact_distinct"] <= 10:
            assert r["approx_distinct"] == r["exact_distinct"], r["col_name"]


def test_profile_frame_keeps_all_null_column(spark):
    """The data-quality case a profile exists for: a column whose every
    value is NULL must keep its stats row (n_nulls = n_rows,
    distinct counts 0) — not vanish through an inner join — and
    partial nulls must count exactly."""
    from pyspark.sql import functions as F

    from batch_process_spark.queries_ext8 import profile_frame

    rows = (
        [("all_null", None)] * 5
        + [("half_null", None)] * 3
        + [("half_null", "x"), ("half_null", "y")]
        + [("dense", str(i)) for i in range(5)]
    )
    u = spark.createDataFrame(rows, "scope string, key string")
    got = {r["col_name"]: r for r in profile_frame(u).collect()}

    assert set(got) == {"all_null", "half_null", "dense"}
    an = got["all_null"]
    assert (an["n_rows"], an["n_nulls"], an["approx_distinct"], an["exact_distinct"]) == (5, 5, 0, 0)
    hn = got["half_null"]
    assert (hn["n_rows"], hn["n_nulls"], hn["exact_distinct"]) == (5, 3, 2)
    assert hn["approx_distinct"] == 2  # LC on a near-empty register set is exact
    dn = got["dense"]
    assert (dn["n_rows"], dn["n_nulls"], dn["exact_distinct"]) == (5, 0, 5)
