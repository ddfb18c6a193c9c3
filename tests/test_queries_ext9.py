"""Semantics tests for the part-10 query catalog (q137-q140):
time-series resampling. Oracle hash-matching covers values; these pin
the structural properties — dense spines, carry-forward correctness,
cross-grain conservation."""

from datetime import date, timedelta

from batch_process_spark.queries import QUERIES, _t
import batch_process_spark.queries_ext9  # noqa: F401  (registers q137+)

SF = "/root/testdata/sf0.001"


def test_q137_spine_is_dense_and_locf_correct(spark):
    """Per user: days form a contiguous range (no holes, no dups —
    the defining gap-fill property), days_since_last == 0 exactly on
    active days, and the carried value equals a pure-Python forward
    fill over the same rows."""
    rows = QUERIES["q137_gap_fill_daily"](spark, SF).collect()
    assert rows
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    gaps_seen = False
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r["day"])
        days = [date.fromisoformat(r["day"]) for r in rs]
        assert days == [days[0] + timedelta(days=i) for i in range(len(days))], uid
        carried = None
        last_active = None
        for r, d in zip(rs, days):
            assert (r["days_since_last"] == 0) == (r["active"] == 1)
            if r["active"] == 1:
                # >= 0, not > 0: a day whose only event has value 0.0
                # is legitimately active with zero cents
                assert r["day_cents"] >= 0
                carried, last_active = r["day_cents"], d
            else:
                gaps_seen = True
                assert r["day_cents"] == 0
            assert r["locf_cents"] == carried, (uid, r["day"])
            assert r["days_since_last"] == (d - last_active).days
    assert gaps_seen, "fixture produced no gaps — the fill path is unexercised"


def test_q138_grains_conserve_totals(spark):
    """Every grain partitions the same events: counts and cent totals
    must be identical across day, week, and month rollups, and week
    buckets must be Mondays / month buckets firsts-of-month."""
    rows = QUERIES["q138_calendar_rollup"](spark, SF).collect()
    by_grain: dict = {}
    for r in rows:
        g = by_grain.setdefault(r["grain"], {"n": 0, "cents": 0, "buckets": []})
        g["n"] += r["n_events"]
        g["cents"] += r["total_cents"]
        g["buckets"].append(r["bucket_start"])
    assert set(by_grain) == {"day", "week", "month"}
    totals = {(g["n"], g["cents"]) for g in by_grain.values()}
    assert len(totals) == 1, "grains disagree on the underlying events"
    for b in by_grain["week"]["buckets"]:
        assert date.fromisoformat(b[:10]).weekday() == 0, b  # Monday
    for b in by_grain["month"]["buckets"]:
        assert b[8:10] == "01", b
    assert len(by_grain["day"]["buckets"]) >= len(by_grain["week"]["buckets"]) >= len(
        by_grain["month"]["buckets"]
    )


def test_q139_matches_python_integer_pagerank(spark):
    """Pure-Python recompute of the integer PageRank: identical edge
    weights, identical (r*w)//out and (s*85)//100 arithmetic — the
    distributed iterations must agree EXACTLY (there are no floats to
    diverge on), and ranks must actually differentiate nations."""
    from pyspark.sql import functions as F

    from batch_process_spark.queries import _t

    got = {
        r["nation"]: r["rank_micro"]
        for r in QUERIES["q139_pagerank_trade"](spark, SF).collect()
    }

    li = _t(spark, SF, "lineitem")
    orders = _t(spark, SF, "orders")
    supp = _t(spark, SF, "supplier")
    cust = _t(spark, SF, "customer")
    nation = _t(spark, SF, "nation")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("src"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("dst"))
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, supp.s_nationkey == F.col("s_nk"))
        .join(n2, cust.c_nationkey == F.col("c_nk"))
        .groupBy("src", "dst")
        .agg(F.sum(cents).alias("w"))
        .collect()
    )
    out: dict = {}
    for e in edges:
        out[e["src"]] = out.get(e["src"], 0) + e["w"]
    nations = sorted({r["n_name"] for r in nation.select("n_name").collect()})
    n_nodes = len(nations)
    ranks = {n: 1_000_000 // n_nodes for n in nations}
    base = 1_000_000 * 15 // 100 // n_nodes
    for _ in range(3):
        sums = {n: 0 for n in nations}  # no-inbound nodes keep base rank
        for e in edges:
            sums[e["dst"]] += (ranks[e["src"]] * e["w"]) // out[e["src"]]
        ranks = {n: base + (s * 85) // 100 for n, s in sums.items()}
    assert got == ranks
    assert len(set(got.values())) > 1, "ranks failed to differentiate nations"


def test_q140_conserves_parts_and_elects_min_canonical(spark):
    """Entity resolution must not lose or double-count facts: part
    counts and retail cents sum exactly to the table totals; some
    entities must merge multiple names (non-vacuous); and within the
    result no canonical name may itself be within distance 2 of a
    SMALLER name (min-election sanity via brute-force recheck)."""
    from pyspark.sql import functions as F

    rows = QUERIES["q140_entity_resolution"](spark, SF).collect()
    parts = _t(spark, SF, "part")
    total_parts = parts.count()
    total_cents = parts.select(
        F.sum(F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long"))
    ).collect()[0][0]
    assert sum(r["n_parts"] for r in rows) == total_parts
    assert sum(r["retail_cents"] for r in rows) == total_cents
    assert any(r["n_names"] > 1 for r in rows), "no fuzzy merges — vacuous"
    assert sum(r["n_names"] for r in rows) == parts.select("p_name").distinct().count()

    # min-election recheck: if a canonical name had a SMALLER name
    # within distance 2, that name is in the same component and the
    # canonical could not be the minimum
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

    all_names = sorted(r["p_name"] for r in parts.select("p_name").distinct().collect())
    for r in rows:
        c = r["canonical_name"]
        for s in all_names:
            if s >= c:
                break
            assert lev(s, c) > 2, (c, s, "canonical is not its component's minimum")


def test_q149_triangle_math_exact(spark):
    """Triangle counting on a hand-built graph with known answers: a
    4-clique (4 triangles, each node in 3) plus a pendant edge (no
    triangles) — validates canonical-order enumeration counts each
    triangle exactly once and per-node participation is right."""
    from pyspark.sql import functions as F

    # orders: one per edge of K4 {1,2,3,4} + pendant edge {4,9}
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 9)]
    rows = []
    for o, (a, b) in enumerate(edges):
        rows += [(o, a), (o, b)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")

    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("v"))
    e = (
        li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("u"))
        .join(b, "o").filter(F.col("u") < F.col("v")).select("u", "v").distinct()
    )
    e2 = e.select(F.col("u").alias("v"), F.col("v").alias("w"))
    tri = e.join(e2, "v").select("u", "v", "w").join(
        e.select(F.col("u").alias("u"), F.col("v").alias("w")), ["u", "w"], "left_semi"
    )
    assert tri.count() == 4  # C(4,3) triangles in K4, none through node 9
    per = {
        r["p"]: r["n"]
        for r in tri.select(F.explode(F.array("u", "v", "w")).alias("p"))
        .groupBy("p").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per == {1: 3, 2: 3, 3: 3, 4: 3}  # node 9 absent


def test_q150_sessions_match_batch_islands(spark):
    """q150 drives session_window as a real 3-micro-batch stream in
    complete mode; this pins what the oracle can't see: session BOUNDS
    honor the gap contract (end == last event + 30min, so end - 30min
    >= start) and the emitted session starts equal a driver-side
    islands recomputation per user — i.e. the stream's final table is
    exactly the batch sessionization, however the micro-batches cut."""
    import pyarrow.parquet as pq

    from batch_process_spark.queries import QUERIES

    sf = SF
    rows = QUERIES["q150_streaming_sessions"](spark, sf).collect()
    assert rows
    gap_s = 30 * 60
    sessions = {}
    for r in rows:
        start, end = r["session_start"], r["session_end"]
        assert (end - start).total_seconds() >= gap_s, "end must be last+gap"
        sessions.setdefault(r["user_id"], []).append(r)

    tbl = pq.read_table(f"{sf}/events.parquet", columns=["user_id", "ts"])
    by_user: dict = {}
    for uid, ts in zip(
        tbl.column("user_id").to_pylist(), tbl.column("ts").to_pylist()
    ):
        by_user.setdefault(uid, []).append(ts)
    n_sessions = 0
    for uid, e in by_user.items():
        e.sort()
        starts = [e[0]]
        for prev, nxt in zip(e, e[1:]):
            if (nxt - prev).total_seconds() > gap_s:
                starts.append(nxt)
        n_sessions += len(starts)
        got = sorted(r["session_start"].replace(tzinfo=None) for r in sessions[uid])
        want = sorted(t.replace(tzinfo=None) for t in starts)
        assert got == want, uid
    assert n_sessions == len(rows)


def test_session_window_stream_stitches_across_microbatches(spark, tmp_path):
    """NON-VACUITY of the cross-batch merge (the testdata's sessions
    are too short to span its row-third slice cuts, so q150 alone
    can't witness it): a synthetic feed where one user's session is
    split across all three micro-batches — 10:00 in batch 0, 10:10 in
    batch 1, 10:20 in batch 2, each within the 30-minute gap — must
    come back as ONE session [10:00, 10:50) with n_events=3, while a
    second user's far-apart events stay two sessions. This is the
    state-store stitching a shuffle-wide batch window never does."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from batch_process_spark.streaming.windows import (
        run_stream_to_memory,
        session_window_agg,
    )

    d = tmp_path / "feed"
    d.mkdir()
    schema = pa.schema(
        [("user_id", pa.int64()), ("ts", pa.timestamp("us")), ("value", pa.float64())]
    )

    def write_slice(i, rows):
        pq.write_table(
            pa.Table.from_pylist(rows, schema=schema), d / f"slice_{i}.parquet"
        )

    from datetime import datetime

    t = lambda m: datetime(2024, 1, 1, 10, m)
    write_slice(0, [{"user_id": 1, "ts": t(0), "value": 1.0},
                    {"user_id": 2, "ts": t(0), "value": 5.0}])
    feeds = [
        lambda: write_slice(1, [{"user_id": 1, "ts": t(10), "value": 2.0}]),
        lambda: write_slice(2, [{"user_id": 1, "ts": t(20), "value": 4.0},
                                {"user_id": 2, "ts": t(55), "value": 7.0}]),
    ]
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        out = run_stream_to_memory(
            spark,
            str(d),
            "user_id long, ts timestamp, value double",
            lambda st: session_window_agg(st, gap="30 minutes"),
            query_name="t_sess_stitch",
            output_mode="complete",
            feeds=feeds,
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user[1]) == 1, "cross-batch events within gap must merge"
    s1 = by_user[1][0]
    assert s1["n_events"] == 3 and s1["sum_value"] == 7.0
    assert (s1["session_end"] - s1["session_start"]).total_seconds() == 50 * 60
    assert len(by_user[2]) == 2, "events 55min apart must stay split"


def test_q151_hops_match_python_bfs(spark):
    """The iterative-join BFS must equal a textbook queue BFS run
    driver-side on the same (collected) edge set: identical reachable
    sets within 4 hops and identical minimal hop counts — pinning that
    the anti-join keeps FIRST discovery and no round leaks a stale
    frontier."""
    from collections import deque

    from batch_process_spark.queries import QUERIES, _t
    from pyspark.sql import functions as F

    rows = QUERIES["q151_bfs_hops"](spark, SF).collect()
    got = {r["l_partkey"]: r["hops"] for r in rows}
    assert got, "empty BFS result"

    li = (
        _t(spark, SF, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    by_order: dict = {}
    for r in li:
        by_order.setdefault(r["l_orderkey"], []).append(r["l_partkey"])
    adj: dict = {}
    for parts in by_order.values():
        for a in parts:
            for bb in parts:
                if a != bb:
                    adj.setdefault(a, set()).add(bb)
    seed = min(adj)
    want = {seed: 0}
    q = deque([seed])
    while q:
        n = q.popleft()
        if want[n] >= 4:
            continue
        for m in adj.get(n, ()):
            if m not in want:
                want[m] = want[n] + 1
                q.append(m)
    assert got == want


def test_q152_bm25_matches_python_recompute(spark):
    """Recompute BM25 for every returned doc in pure Python from the
    raw text (same k1/b/term set) and compare at 6 decimals — pinning
    the formula, the map-only tf/dl derivation, and the ranking order
    (score desc, doc_id asc)."""
    import math

    import pyarrow.parquet as pq

    from batch_process_spark.queries import QUERIES
    from batch_process_spark.queries_ext9 import _BM25_B, _BM25_K1, _BM25_TERMS

    rows = QUERIES["q152_bm25_search"](spark, SF).collect()
    assert len(rows) == 20

    tbl = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    toks = {
        d: [t for t in txt.split(" ") if t]
        for d, txt in zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist())
    }
    n_docs = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n_docs
    df = {
        term: sum(1 for v in toks.values() if term in v) for term in _BM25_TERMS
    }
    def score(d):
        s = 0.0
        dl = len(toks[d])
        for term in _BM25_TERMS:
            tf = toks[d].count(term)
            if tf == 0:
                continue
            idf = math.log((n_docs - df[term] + 0.5) / (df[term] + 0.5) + 1)
            s += idf * (tf * (_BM25_K1 + 1)) / (
                tf + _BM25_K1 * (1 - _BM25_B + _BM25_B * dl / avgdl)
            )
        return round(s, 6)

    for r in rows:
        assert abs(r["score"] - score(r["doc_id"])) < 2e-6, r["doc_id"]
    got = [(r["score"], r["doc_id"]) for r in rows]
    assert got == sorted(got, key=lambda p: (-p[0], p[1]))
    want_top = sorted(
        ((score(d), d) for d in toks), key=lambda p: (-p[0], p[1])
    )[:20]
    assert [(s, d) for s, d in want_top] == got


def test_q153_feed_dirs_removed_after_the_stream_stops(spark):
    """q153 stages its literal feeds in temp dirs that are gone once it
    returns, as q99/q100's are: the result is the memory-sink table.
    Runs the unwrapped builder, so a plan-cache hit cannot skip the
    stream."""
    import os
    import tempfile

    from batch_process_spark.queries import QUERIES

    def feed_dirs():
        return {e for e in os.listdir(tempfile.gettempdir())
                if e.startswith(("q153_imp_", "q153_clk_"))}

    before = feed_dirs()
    out = QUERIES["q153_stream_outer_join"].__wrapped__(spark, SF)
    assert feed_dirs() <= before
    assert {r["ad_id"] for r in out.collect()} == {1, 2, 3}


def test_q153_outer_row_emitted_with_nulls(spark):
    """The unclicked impression (ad 2) must appear exactly once with
    NULL click columns — the state-eviction outer emission — and the
    sentinel watermark-pusher must not leak into the result."""
    from batch_process_spark.queries import QUERIES

    rows = QUERIES["q153_stream_outer_join"](spark, SF).collect()
    by_ad = {}
    for r in rows:
        by_ad.setdefault(r["ad_id"], []).append(r)
    assert 99 not in by_ad
    assert len(by_ad[2]) == 1
    outer = by_ad[2][0]
    assert outer["click_ts"] is None and outer["click_value"] is None
    assert by_ad[1][0]["click_value"] == 1.0
    assert by_ad[3][0]["click_value"] == 4.0


def test_q155_interpolation_is_linear_between_fences(spark):
    """Per user: active days carry cents*1e6 exactly; every gap day's
    value equals the integer-division linear interpolation between its
    fencing active days (recomputed driver-side), and gap values are
    monotone between their fences (no overshoot)."""
    from batch_process_spark.queries import QUERIES

    rows = QUERIES["q155_interpolate_daily"](spark, SF).collect()
    assert rows
    from datetime import date

    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    gaps_seen = 0
    for uid, rs in by_user.items():
        rs.sort(key=lambda r: r["day"])
        days = [date.fromisoformat(r["day"]) for r in rs]
        actives = [
            (d, r["interp_micro"] // 1_000_000)
            for d, r in zip(days, rs)
            if r["active"] == 1
        ]
        assert actives, uid
        for d, r in zip(days, rs):
            if r["active"] == 1:
                continue
            gaps_seen += 1
            pd_, pc = max((a for a in actives if a[0] < d), key=lambda a: a[0])
            nd_, nc = min((a for a in actives if a[0] > d), key=lambda a: a[0])
            span = (nd_ - pd_).days
            into = (d - pd_).days
            want = (pc * span + (nc - pc) * into) * 1_000_000 // span
            assert r["interp_micro"] == want, (uid, r["day"])
            lo, hi = min(pc, nc) * 1_000_000, max(pc, nc) * 1_000_000
            assert lo - 1_000_000 <= r["interp_micro"] <= hi + 1_000_000
    assert gaps_seen > 0, "fixture produced no gap days"


def test_q157_leakage_matrix_nonvacuous_and_canonical(spark):
    """The fixture must actually contain cross-source shared prefixes
    (else the query is vacuously green), every pair is canonical
    (src_a < src_b), and pair counts are >= fingerprint counts."""
    from batch_process_spark.queries import QUERIES

    rows = QUERIES["q157_cross_source_leakage"](spark, SF).collect()
    assert rows, "no cross-source shared fingerprints in fixture"
    for r in rows:
        assert r["src_a"] < r["src_b"]
        assert r["n_pairs"] >= r["n_fingerprints"] >= 1


def test_q158_cumulative_curve_properties(spark):
    """cum_uniques is non-decreasing, ends at the total distinct user
    count, new_users sums to the same total, and dau <= cum_uniques on
    every day (a day can't have more actives than users ever seen)."""
    from batch_process_spark.queries import QUERIES, _t
    from pyspark.sql import functions as F

    rows = sorted(
        QUERIES["q158_cumulative_uniques"](spark, SF).collect(),
        key=lambda r: r["day"],
    )
    assert rows
    total = (
        _t(spark, SF, "events").select("user_id").distinct().count()
    )
    prev = 0
    for r in rows:
        assert r["cum_uniques"] >= prev
        assert r["dau"] <= r["cum_uniques"]
        prev = r["cum_uniques"]
    assert rows[-1]["cum_uniques"] == total
    assert sum(r["new_users"] for r in rows) == total


def test_q159_quantization_reconstruction_bound(spark):
    """Recompute codes driver-side for every vector: the max-|x|
    element must map to exactly +/-127 (so n_maxed >= 1 for nonzero
    vectors), dequantized values sit within half a step of the
    original, and norm_micro matches the exact L2 norm."""
    import math

    import pyarrow.parquet as pq

    from batch_process_spark.queries import QUERIES

    rows = {r["vec_id"]: r for r in QUERIES["q159_vector_quantize"](spark, SF).collect()}
    assert rows
    tbl = pq.read_table(f"{SF}/embeddings.parquet", columns=["vec_id", "embedding"])
    for vid, emb in zip(tbl.column("vec_id").to_pylist(), tbl.column("embedding").to_pylist()):
        r = rows[vid]
        e = [float(x) for x in emb]
        scale = max(abs(x) for x in e)
        assert r["norm_micro"] == math.floor(
            math.sqrt(sum(x * x for x in e)) * 1_000_000 + 0.5
        )
        if scale == 0:
            assert r["n_maxed"] == 0
            continue
        codes = [math.floor(x * 127 / scale + 0.5) for x in e]
        assert r["n_maxed"] == sum(1 for c in codes if abs(c) == 127) >= 1
        step = scale / 127
        for x, c in zip(e, codes):
            assert abs(x - c * step) <= step / 2 + 1e-12


def test_q160_rules_match_python_recompute(spark):
    """Recompute support/confidence/lift for every returned rule from
    the raw baskets and check the ranking invariants (lift desc with
    deterministic tie-break, min-support honored)."""
    from batch_process_spark.queries import QUERIES, _t
    from pyspark.sql import functions as F

    rows = QUERIES["q160_association_rules"](spark, SF).collect()
    assert rows
    b = (
        _t(spark, SF, "lineitem")
        .filter(F.col("l_orderkey") <= 2000)
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    baskets: dict = {}
    for r in b:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    n = len(baskets)
    from collections import Counter

    cnt = Counter(p for parts in baskets.values() for p in parts)
    pair = Counter()
    for parts in baskets.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1:]:
                pair[(u, v)] += 1
    for r in rows:
        a, c = r["antecedent"], r["consequent"]
        both = pair[tuple(sorted((a, c)))]
        assert both == r["both_cnt"] >= 2
        assert cnt[a] == r["ante_cnt"]
        assert abs(r["confidence"] - round(both / cnt[a], 6)) < 1e-9
        assert abs(r["lift"] - round(both * n / (cnt[a] * cnt[c]), 6)) < 1e-9
    key = [(-r["lift"], r["antecedent"], r["consequent"]) for r in rows]
    assert key == sorted(key)
