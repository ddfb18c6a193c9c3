"""Query catalog part 9 (q127-q136): engine-portable probabilistic
sketches, fuzzy matching, and stateful streaming under the oracle.

Spark's native sketch aggregates (HLL++, CountMinSketch, BloomFilter)
are implementation-defined, so their outputs can't be value-hash-checked
against another engine. These queries build the SAME sketches from
explicit md5-derived hashes (`operators/sketches.py`): every register,
counter cell, and bit position is reproducible in ANSI SQL, which puts
approximate answers under the exact same full value-hash oracle as the
rest of the catalog. The scale story is mergeability: each sketch
reduces an unbounded stream to a fixed-size integer table (registers /
counters / bit positions) via one partial-aggregated shuffle, and
merges across sources or executors by MAX / SUM / UNION.

Reference parity: the reference has no sketch layer (single-node pandas
never needs one — e.g. `utils/adapters/df_helpers.py` materializes
every group exactly); these are part of the 100 TB north-star surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from batch_process_spark.operators import joins
from batch_process_spark.operators.caching import memoized_persist
from batch_process_spark.operators.sketches import (
    bloom_bit_positions,
    bloom_probe,
    cms_counter_table,
    cms_lookup,
    hll_alpha_num,
    hll_estimate,
    hll_hash_cols,
    hll_register_table,
)
from batch_process_spark.queries import _events_stream, _q, _t


# ---------------------------------------------------------------------------
# q127: HyperLogLog distinct (user, hour) per event_type + merged union
# ---------------------------------------------------------------------------

_HLL_P = 8
_HLL_M = 1 << _HLL_P
_HLL_NUM = hll_alpha_num(_HLL_P)  # same double literal in both engines

# DuckDB twin of the Spark-side key: user_id ':' hour-truncated ts
_DUCK_HLL_KEY = (
    "CAST(user_id AS VARCHAR) || ':' || "
    "strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')"
)


def _hll_key():
    """The ONE Spark statement of the sketch key (the _DUCK_HLL_KEY
    twin), shared by q127/q131/q132/q133 so the copies cannot drift.
    F.concat, NOT concat_ws: SQL || propagates NULL, concat_ws skips
    NULL args — with a NULL user_id the two engines would otherwise
    hash different key populations (Spark counting the hour-only
    remainder, DuckDB dropping the row)."""
    return F.concat(
        F.col("user_id").cast("string"),
        F.lit(":"),
        F.date_trunc("hour", F.col("ts")).cast("string"),
    )

# Shared DuckDB fragments for the HLL family (q127/q131/q132): ONE
# statement of the register build and ONE of the estimate math, so the
# SQL twins cannot drift from each other or from
# ``sketches.hll_register_table``/``hll_estimate``. (A hand-copied
# estimate that silently dropped the linear-counting branch shipped a
# real sf0.001-only oracle failure in q132 before these were hoisted —
# the branch is ACTIVE at sf0.001 cardinalities and dormant at
# sf0.01+, exactly the kind of divergence a shared fragment prevents.)
_DUCK_HLL_REGS_FROM_K = """br AS (
      SELECT scope,
             CAST('0x' || substr(md5(key), 1, 2) AS BIGINT) AS bucket,
             CAST('0x' || substr(md5(key), 3, 12) AS BIGINT) AS w
      FROM k
    ), regs AS (
      SELECT scope, bucket,
             max(CASE WHEN w = 0 THEN 49 ELSE 49 - length(bin(w)) END) AS max_rho
      FROM br GROUP BY 1, 2
    )"""

# the events-stream instantiation used by q127/q131/q132
_DUCK_HLL_REG_CTES = f"""k AS (
      SELECT event_type AS scope, {_DUCK_HLL_KEY} AS key FROM events
    ), {_DUCK_HLL_REGS_FROM_K}"""


def _duck_hll_estimate(group_cols: str, src: str, alias: str = "hll_estimate") -> str:
    """SELECT computing the per-group HLL estimate over a register
    table ``src`` — exact-integer harmonic sum, single double division,
    and the linear-counting small-range branch, mirroring
    ``sketches.hll_estimate`` term for term. Also exposes ``n_seen``
    (registers hit) for callers that report it."""
    return f"""
      SELECT {group_cols},
             CAST(floor(CASE WHEN raw <= {2.5 * _HLL_M!r} AND zeros > 0
                             THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / zeros)
                             ELSE raw END + 0.5) AS BIGINT) AS {alias},
             n_seen
      FROM (
        SELECT {group_cols},
               {_HLL_NUM!r} / CAST(s_seen + ({_HLL_M} - n_seen) * (1::BIGINT << 49) AS DOUBLE) AS raw,
               {_HLL_M} - n_seen AS zeros,
               n_seen
        FROM (
          SELECT {group_cols},
                 sum(1::BIGINT << (49 - max_rho)) AS s_seen,
                 count(*) AS n_seen
          FROM {src} GROUP BY {group_cols}
        )
      )"""


@_q(
    "q127_hll_distinct",
    f"""
    WITH {_DUCK_HLL_REG_CTES}, r AS (
      SELECT * FROM regs
      UNION ALL
      SELECT 'ALL' AS scope, bucket, max(max_rho) FROM regs GROUP BY 1, 2
    ), est AS ({_duck_hll_estimate("scope", "r")}
    ), ex AS (
      SELECT scope, CAST(count(DISTINCT key) AS BIGINT) AS exact_distinct
      FROM k GROUP BY 1
      UNION ALL
      SELECT 'ALL', CAST(count(DISTINCT key) AS BIGINT) FROM k
    )
    SELECT est.scope, exact_distinct, hll_estimate,
           CAST(floor(abs(hll_estimate - exact_distinct) * 10000.0 / exact_distinct + 0.5) AS BIGINT) AS err_bp
    FROM est JOIN ex ON est.scope = ex.scope
    """,
)
def q127_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog (p=8, 256 registers): distinct
    (user, activity-hour) pairs per event_type, plus an 'ALL' row whose
    registers are the register-wise MAX of the per-type tables — the
    union-merge that makes HLL the 100 TB distinct-count tool (5 streams
    sketched independently, merged without re-reading data). Register
    build is map-only hash exprs into one partial-agg shuffle of
    <= types x 256 rows; the estimate is exact-integer arithmetic
    (SUM(1 << (49 - rho)) BIGINT) below a single double division, so the
    DuckDB oracle hash-matches bit-for-bit. The exact_distinct column is
    validation-only — at scale it's the expensive thing the sketch
    replaces."""
    ev = _t(spark, sf_dir, "events")
    key = _hll_key()
    keyed = ev.select(F.col("event_type"), key.alias("key"))

    # GROUPING SETS ((type, bucket), (bucket)) computes per-type
    # registers AND their merged union in ONE pass over the data — the
    # total row's max per bucket IS the register-wise merge (max
    # commutes), so the 'ALL' sketch costs no second scan.
    # grouping() (not coalesce) distinguishes the union row from a
    # hypothetical NULL event_type value, so a NULL group could never
    # be conflated into the 'ALL' registers.
    bucket, rho = hll_hash_cols(F.col("key"), p=_HLL_P)
    raw = keyed.select("event_type", bucket.alias("bucket"), rho.alias("rho"))
    scope = F.when(F.col("__g") == 1, F.lit("ALL")).otherwise(F.col("event_type"))
    regs = (
        raw.groupingSets([["event_type", "bucket"], ["bucket"]], "event_type", "bucket")
        .agg(
            F.max("rho").cast("long").alias("max_rho"),
            F.grouping("event_type").alias("__g"),
        )
        .select(scope.alias("scope"), "bucket", "max_rho")
    )
    est = hll_estimate(regs, ["scope"], p=_HLL_P)

    # Exact side (validation-only) gets the same one-scan treatment.
    ex = (
        keyed.groupingSets([["event_type"], []], "event_type")
        .agg(
            F.count_distinct("key").alias("exact_distinct"),
            F.grouping("event_type").alias("__g"),
        )
        .select(scope.alias("scope"), "exact_distinct")
    )

    return est.join(ex, "scope").select(
        "scope",
        "exact_distinct",
        "hll_estimate",
        F.floor(
            F.abs(F.col("hll_estimate") - F.col("exact_distinct"))
            * 10000.0
            / F.col("exact_distinct")
            + F.lit(0.5)
        )
        .cast("long")
        .alias("err_bp"),
    )


# ---------------------------------------------------------------------------
# q128: Count-Min sketch heavy hitters over document word bigrams
# ---------------------------------------------------------------------------

_CMS_D = 3
_CMS_W = 256  # deliberately tight vs the ~900-bigram fixture vocabulary
# so hash collisions (and hence visible CMS overcounts) actually occur;
# real deployments size width ~ e/epsilon.

_DUCK_BIGRAMS = (
    "(SELECT list_transform(range(1, greatest(len(__t) - 1, 0) + 1), "
    "i -> __t[i] || ' ' || __t[i+1]) FROM (SELECT "
    "list_filter(regexp_split_to_array(lower(trim(text)), '[^0-9a-zA-Z]+'), x -> x <> '')"
    " AS __t))"
)


@_q(
    "q128_cms_heavy_hitters",
    f"""
    WITH toks AS (
      SELECT unnest({_DUCK_BIGRAMS}) AS token FROM documents
    ), counts AS (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY token
    ), cells AS (
      SELECT s.salt, CAST('0x' || substr(md5(s.salt || ':' || token), 1, 8) AS BIGINT) % {_CMS_W} AS bucket,
             sum(cnt) AS cell
      FROM counts, (SELECT unnest(['0', '1', '2']) AS salt) s
      GROUP BY 1, 2
    ), cand AS (
      SELECT token, cnt AS exact_cnt FROM counts ORDER BY cnt DESC, token LIMIT 20
    ), probe AS (
      SELECT cand.token, cand.exact_cnt,
             min(cells.cell) AS cms_estimate
      FROM cand
      JOIN (SELECT unnest(['0', '1', '2']) AS salt) s ON true
      JOIN cells ON cells.salt = s.salt
       AND cells.bucket = CAST('0x' || substr(md5(s.salt || ':' || cand.token), 1, 8) AS BIGINT) % {_CMS_W}
      GROUP BY cand.token, cand.exact_cnt
    )
    SELECT token, exact_cnt, CAST(cms_estimate AS BIGINT) AS cms_estimate,
           CAST(cms_estimate - exact_cnt AS BIGINT) AS overcount
    FROM probe
    """,
)
def q128_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point estimates for the top-20 word bigrams:
    counters are d=3 salted-md5 rows x w=256 buckets built from the
    REDUCED (token, count) table — the explode-by-depth factor applies
    after the map-side-combined token shuffle, never to raw occurrences.
    The counter table is 768 rows whatever the corpus size and merges
    across corpora by cell-wise SUM. Estimates are min-over-rows, so
    cms_estimate >= exact_cnt always (overcount visible here because
    width is deliberately tight vs the fixture vocabulary)."""
    from batch_process_spark.operators.text import ngrams_col

    docs = _t(spark, sf_dir, "documents")
    counts = memoized_persist(
        docs.select(F.explode(ngrams_col("text", 2)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    counters = cms_counter_table(counts, depth=_CMS_D, width=_CMS_W)
    cand = counts.orderBy(F.desc("cnt"), F.asc("token")).limit(20).select(
        "token", F.col("cnt").alias("exact_cnt")
    )
    looked = cms_lookup(cand, counters, depth=_CMS_D, width=_CMS_W)
    return cand.join(looked, "token").select(
        "token",
        "exact_cnt",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


# ---------------------------------------------------------------------------
# q129: Bloom-filter semi-join pruning with measured false positives
# ---------------------------------------------------------------------------

_BLOOM_K = 3
_BLOOM_M = 128  # deliberately small vs the ~47-user build side so the
# false-positive path is exercised; the operator takes (k, m) params.
_SPEND_CENTS = 70_000  # flagged = purchase spend > $700 (integer cents)


def _duck_bloom_pos(salt: int) -> str:
    return (
        f"CAST('0x' || substr(md5('{salt}:' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)"
        f" % {_BLOOM_M}"
    )


@_q(
    "q129_bloom_semi_join",
    f"""
    WITH flagged AS (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
      HAVING sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) > {_SPEND_CENTS}
    ), allbits AS (
      SELECT DISTINCT CAST('0x' || substr(md5(CAST(s AS VARCHAR) || ':' || CAST(f.user_id AS VARCHAR)), 1, 8) AS BIGINT) % {_BLOOM_M} AS pos
      FROM flagged f, (SELECT unnest([0, 1, 2]) AS s) sa
    ), ev AS (
      SELECT event_type,
             ({_duck_bloom_pos(0)}) IN (SELECT pos FROM allbits)
             AND ({_duck_bloom_pos(1)}) IN (SELECT pos FROM allbits)
             AND ({_duck_bloom_pos(2)}) IN (SELECT pos FROM allbits) AS bloom_ok,
             user_id IN (SELECT user_id FROM flagged) AS exact_ok
      FROM events
    )
    SELECT event_type,
           CAST(sum(CASE WHEN bloom_ok THEN 1 ELSE 0 END) AS BIGINT) AS bloom_rows,
           CAST(sum(CASE WHEN exact_ok THEN 1 ELSE 0 END) AS BIGINT) AS exact_rows,
           CAST(sum(CASE WHEN bloom_ok AND NOT exact_ok THEN 1 ELSE 0 END) AS BIGINT) AS false_pos_rows
    FROM ev GROUP BY event_type
    """,
)
def q129_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join: flag high-spend purchasers (integer-cents
    threshold — float-sum order can't flip membership), light their k=3
    md5 bit positions in an m=128-bit filter, and prune the full event
    stream against the broadcast bit set — the explicit form of a
    runtime filter (Spark's AQE bloom pruning automates the same idea).
    The probe side stays map-only: one broadcast row carrying <= m bit
    positions, zero shuffle, zero explode of the big side. Per type the
    result counts bloom-passing vs exactly-matching rows; false
    positives are nonzero here because m is deliberately small for the
    fixture. No false negatives, pinned by pytest."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    flagged = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.sum(cents).alias("spend"))
        .filter(F.col("spend") > _SPEND_CENTS)
        .select("user_id")
    )
    bits = bloom_bit_positions(flagged, "user_id", k=_BLOOM_K, m_bits=_BLOOM_M)

    passed = bloom_probe(ev, bits, "user_id", k=_BLOOM_K, m_bits=_BLOOM_M)
    bloom_counts = passed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("bloom_rows")
    )
    # flagged grows with the corpus (high-spend users) — the Bloom path
    # is the scale story, but this exact-validation side must not be a
    # hint-forced broadcast; stats-gate it so it shuffles at scale.
    exact = ev.join(joins.gated_broadcast(flagged), "user_id", "left_semi")
    exact_counts = exact.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_rows")
    )
    # Anchor on the full type list: a type whose every row fails one of
    # the filters must still emit a zero row (the oracle groups the
    # whole stream, so absent groups would be a shape mismatch).
    types = ev.select("event_type").distinct()
    return (
        types.join(bloom_counts, "event_type", "left")
        .join(exact_counts, "event_type", "left")
        .select(
            "event_type",
            F.coalesce("bloom_rows", F.lit(0)).alias("bloom_rows"),
            F.coalesce("exact_rows", F.lit(0)).alias("exact_rows"),
            (
                F.coalesce("bloom_rows", F.lit(0)) - F.coalesce("exact_rows", F.lit(0))
            ).alias("false_pos_rows"),
        )
    )


# ---------------------------------------------------------------------------
# q131: streaming HLL — registers maintained across real micro-batches
# ---------------------------------------------------------------------------

@_q(
    "q131_streaming_hll",
    f"""
    WITH {_DUCK_HLL_REG_CTES}, est AS ({_duck_hll_estimate("scope", "regs")})
    SELECT scope, hll_estimate, CAST(n_seen AS BIGINT) AS n_registers_hit
    FROM est
    """,
)
def q131_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch maintenance under Structured Streaming: the q127 HLL
    registers built INCREMENTALLY over three real micro-batches of the
    events table (the file feed ships one slice per batch), as a
    complete-mode groupBy(type, bucket) max(rho) whose state is the
    register table itself — bounded at types x 256 rows no matter how
    long the stream runs, the property that makes sketches the
    streaming distinct-count answer. Because MAX is batching- and
    order-insensitive, the final registers must equal the batch sketch
    over the same rows — pinned by the SAME DuckDB register/estimate
    oracle as q127 (unified batch/stream semantics, checked not
    assumed). The estimate step runs as a tiny batch job on the final
    1280-row result table."""
    from batch_process_spark.streaming.windows import drive_stream_to_memory

    stream, feeds = _events_stream(spark, sf_dir, "q131", n_slices=3)
    out = hll_register_table(
        stream.select("event_type", _hll_key().alias("key")), "key", ["event_type"], p=_HLL_P
    )
    regs = drive_stream_to_memory(
        spark, out, "q131_out", "complete", feeds=feeds
    ).withColumnRenamed("event_type", "scope")

    est = hll_estimate(regs, ["scope"], p=_HLL_P)
    hits = regs.groupBy("scope").agg(F.count(F.lit(1)).alias("n_registers_hit"))
    return est.join(hits, "scope")


# ---------------------------------------------------------------------------
# q134: custom stateful operator (applyInPandasWithState) under the oracle
# ---------------------------------------------------------------------------


@_q(
    "q134_stateful_running_totals",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY user_id
    """,
)
def q134_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A CUSTOM stateful streaming operator (``applyInPandasWithState``,
    `streaming/stateful.py` `running_totals_cents_stream`) held to the
    full value-hash oracle: per-user running (count, cents) state
    updated across three real micro-batches in update mode — one
    emission per user per batch it appears in, state carried between
    batches in the state store. The final emission per user (selected
    by max n_events, which is strictly increasing per key) must equal
    the batch GROUP BY — possible only because the kernel accumulates
    exact integers (values quantized to cents INSIDE the kernel; a
    float accumulator's low bits would depend on batch boundaries).
    State is one (long, long) pair per user: bounded, spillable,
    timeout-evictable — the distributed replacement for the
    reference's mutable per-path ProcessingContext accumulators
    (reference `decorators/processor.py:16-102`)."""
    from batch_process_spark.streaming.stateful import running_totals_cents_stream
    from batch_process_spark.streaming.windows import drive_stream_to_memory

    stream, feeds = _events_stream(spark, sf_dir, "q134", n_slices=3)
    out = drive_stream_to_memory(
        spark, running_totals_cents_stream(stream), "q134_out", "update", feeds=feeds
    )
    # Update-mode sink holds every emission; the final state per user
    # is the row with the largest n_events (strictly increasing).
    final = F.max(F.struct("n_events", "total_cents")).alias("s")
    return out.groupBy("user_id").agg(final).select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.col("s.total_cents").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# q132: HLL set algebra — pairwise union/intersection via register merge
# ---------------------------------------------------------------------------


@_q(
    "q132_hll_set_algebra",
    f"""
    WITH {_DUCK_HLL_REG_CTES}, types AS (SELECT DISTINCT scope FROM regs),
    pairs AS (
      SELECT a.scope AS type_a, b.scope AS type_b
      FROM types a JOIN types b ON a.scope < b.scope
    ), membership AS (
      SELECT type_a, type_b, type_a AS t FROM pairs
      UNION ALL
      SELECT type_a, type_b, type_b AS t FROM pairs
    ), pair_regs AS (
      SELECT m.type_a, m.type_b, r.bucket, max(r.max_rho) AS max_rho
      FROM membership m JOIN regs r ON r.scope = m.t
      GROUP BY 1, 2, 3
    ), est AS ({_duck_hll_estimate("scope", "regs", "e")}
    ), est_u AS ({_duck_hll_estimate("type_a, type_b", "pair_regs", "est_union")}
    ), dk AS (SELECT DISTINCT scope, key FROM k),
    exact_i AS (
      SELECT a.scope AS type_a, b.scope AS type_b,
             CAST(count(*) AS BIGINT) AS exact_intersection
      FROM dk a JOIN dk b ON a.key = b.key AND a.scope < b.scope
      GROUP BY 1, 2
    )
    SELECT u.type_a, u.type_b,
           ea.e AS est_a, eb.e AS est_b, u.est_union,
           greatest(0, ea.e + eb.e - u.est_union) AS est_intersection,
           COALESCE(x.exact_intersection, 0) AS exact_intersection
    FROM est_u u
    JOIN est ea ON ea.scope = u.type_a
    JOIN est eb ON eb.scope = u.type_b
    LEFT JOIN exact_i x ON x.type_a = u.type_a AND x.type_b = u.type_b
    """,
)
def q132_hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra ON the sketches: for every pair of event-type
    streams, the union cardinality comes from register-wise MAX of the
    two register tables (the lossless HLL merge), and the intersection
    from inclusion-exclusion (|A|+|B|-|A∪B|, clamped at 0). This is
    the operational payoff of a sketch layer at 100 TB: overlap
    questions between ANY two sources answered from types x 256-row
    register tables, no re-scan, no key-level join. The register
    pairing routes through a 2x-pairs membership table (broadcast, 2
    rows per pair) so per-type registers are computed ONCE; the exact
    intersection column is validation-only (it's the key-level
    self-join the sketch replaces).

    The exact column also makes the textbook caveat VISIBLE in the
    result: inclusion-exclusion error scales with the UNION size
    (~±1.04/√m · |A∪B| per term), so small true overlaps (≈35 here)
    drown in p=8 noise — the reason theta/KMV sketches exist for
    intersection-heavy workloads. Union estimates, the lossless merge,
    stay within normal HLL error."""
    ev = _t(spark, sf_dir, "events")
    key = _hll_key()
    keyed = ev.select(F.col("event_type"), key.alias("key"))
    regs = hll_register_table(keyed, "key", ["event_type"], p=_HLL_P).withColumnRenamed(
        "event_type", "scope"
    )

    types = regs.select("scope").distinct()
    pairs = (
        types.select(F.col("scope").alias("type_a"))
        .join(types.select(F.col("scope").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    membership = pairs.select("type_a", "type_b", F.col("type_a").alias("t")).unionByName(
        pairs.select("type_a", "type_b", F.col("type_b").alias("t"))
    )
    pair_regs = (
        regs.join(F.broadcast(membership), regs.scope == membership.t)
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )

    est = hll_estimate(regs, ["scope"], p=_HLL_P)
    est_u = hll_estimate(pair_regs, ["type_a", "type_b"], p=_HLL_P).withColumnRenamed(
        "hll_estimate", "est_union"
    )

    dk = keyed.distinct()
    a = dk.select(F.col("event_type").alias("type_a"), "key")
    b = dk.select(F.col("event_type").alias("type_b"), "key")
    exact_i = (
        a.join(b, "key")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )

    ea = est.select(F.col("scope").alias("type_a"), F.col("hll_estimate").alias("est_a"))
    eb = est.select(F.col("scope").alias("type_b"), F.col("hll_estimate").alias("est_b"))
    return (
        est_u.join(F.broadcast(ea), "type_a")
        .join(F.broadcast(eb), "type_b")
        .join(exact_i, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "est_a",
            "est_b",
            "est_union",
            F.greatest(
                F.lit(0).cast("long"),
                F.col("est_a") + F.col("est_b") - F.col("est_union"),
            ).alias("est_intersection"),
            F.coalesce("exact_intersection", F.lit(0).cast("long")).alias(
                "exact_intersection"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q133: KMV sketch — the intersection estimator q132's caveat points to
# ---------------------------------------------------------------------------

_KMV_K = 128
_KMV_RANGE = 1 << 60  # 15 hex chars of md5 -> uniform in [0, 2^60)


@_q(
    "q133_kmv_intersection",
    f"""
    WITH k AS (
      SELECT event_type, {_DUCK_HLL_KEY} AS key FROM events
    ), dh AS (
      SELECT DISTINCT event_type,
             CAST('0x' || substr(md5(key), 1, 15) AS BIGINT) AS h
      FROM k
    ), sk AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM dh
      ) WHERE rn <= {_KMV_K}
    ), types AS (SELECT DISTINCT event_type AS t FROM sk),
    pairs AS (
      SELECT a.t AS type_a, b.t AS type_b FROM types a JOIN types b ON a.t < b.t
    ), tagged AS (
      SELECT p.type_a, p.type_b, s.h,
             max(CASE WHEN s.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN s.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sk s ON s.event_type IN (p.type_a, p.type_b)
      GROUP BY 1, 2, 3
    ), x AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
        FROM tagged
      ) WHERE rn <= {_KMV_K}
    ), agg AS (
      SELECT type_a, type_b, max(h) AS kth, count(*) AS nx,
             sum(in_a * in_b) AS matches
      FROM x GROUP BY 1, 2
    ), est AS (
      SELECT type_a, type_b,
             CASE WHEN nx < {_KMV_K} THEN CAST(nx AS BIGINT)
                  ELSE CAST(floor({float(_KMV_K - 1)!r} * {float(_KMV_RANGE)!r} / kth + 0.5) AS BIGINT)
             END AS kmv_union,
             CASE WHEN nx < {_KMV_K} THEN CAST(matches AS BIGINT)
                  ELSE CAST(floor(matches * ({float(_KMV_K - 1)!r} * {float(_KMV_RANGE)!r} / kth) / {float(_KMV_K)!r} + 0.5) AS BIGINT)
             END AS kmv_intersection
      FROM agg
    ), dk AS (SELECT DISTINCT event_type, key FROM k),
    exact_i AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS exact_intersection
      FROM dk a JOIN dk b ON a.key = b.key AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT e.type_a, e.type_b, kmv_union, kmv_intersection,
           COALESCE(x2.exact_intersection, 0) AS exact_intersection
    FROM est e
    LEFT JOIN exact_i x2 ON x2.type_a = e.type_a AND x2.type_b = e.type_b
    """,
)
def q133_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) sketches: the right tool for the
    intersection question q132's caveat documents. Each stream keeps
    its k=128 smallest distinct md5 values (a partitioned top-k — one
    shuffle of <= k rows per type after partial ranking); a pair's
    union sketch is the k smallest of the two sketches MERGED (pure
    sketch-level set algebra, no data re-scan), estimating |A∪B| as
    (k-1)·R/kth-min, and the Jaccard estimate matches/k then scales
    union into intersection. Unlike HLL inclusion-exclusion (error ~
    union size), KMV's intersection error scales with k and Jaccard —
    measurably tighter on the same fixture (pinned by pytest against
    q132's estimates). Fully deterministic integer/set machinery under
    the same value-hash oracle; when a pair's combined sketch holds
    fewer than k values the sketch IS the exact union and both
    estimates collapse to exact counts (CASE branch, both engines)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    key = _hll_key()
    h = F.conv(F.substring(F.md5(F.col("key")), 1, 15), 16, 10).cast("long")
    dh = (
        ev.select(F.col("event_type"), key.alias("key"))
        .select("event_type", h.alias("h"))
        .distinct()
    )
    w_type = Window.partitionBy("event_type").orderBy("h")
    sk = (
        dh.withColumn("rn", F.row_number().over(w_type))
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "h")
    )

    types = sk.select(F.col("event_type").alias("t")).distinct()
    pairs = (
        types.select(F.col("t").alias("type_a"))
        .join(types.select(F.col("t").alias("type_b")))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    membership = pairs.select("type_a", "type_b", F.col("type_a").alias("t")).unionByName(
        pairs.select("type_a", "type_b", F.col("type_b").alias("t"))
    )
    tagged = (
        sk.join(F.broadcast(membership), sk.event_type == membership.t)
        .groupBy("type_a", "type_b", "h")
        .agg(
            F.max((F.col("event_type") == F.col("type_a")).cast("int")).alias("in_a"),
            F.max((F.col("event_type") == F.col("type_b")).cast("int")).alias("in_b"),
        )
    )
    w_pair = Window.partitionBy("type_a", "type_b").orderBy("h")
    x = tagged.withColumn("rn", F.row_number().over(w_pair)).filter(
        F.col("rn") <= _KMV_K
    )
    agg = x.groupBy("type_a", "type_b").agg(
        F.max("h").alias("kth"),
        F.count(F.lit(1)).alias("nx"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("matches"),
    )
    raw = F.lit(float(_KMV_K - 1)) * F.lit(float(_KMV_RANGE)) / F.col("kth")
    est = agg.select(
        "type_a",
        "type_b",
        F.when(F.col("nx") < _KMV_K, F.col("nx").cast("long"))
        .otherwise(F.floor(raw + F.lit(0.5)).cast("long"))
        .alias("kmv_union"),
        F.when(F.col("nx") < _KMV_K, F.col("matches").cast("long"))
        .otherwise(
            F.floor(F.col("matches") * raw / F.lit(float(_KMV_K)) + F.lit(0.5)).cast(
                "long"
            )
        )
        .alias("kmv_intersection"),
    )

    keyed = ev.select(F.col("event_type"), key.alias("key"))
    dk = keyed.distinct()
    a = dk.select(F.col("event_type").alias("type_a"), "key")
    b = dk.select(F.col("event_type").alias("type_b"), "key")
    exact_i = (
        a.join(b, "key")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_intersection"))
    )
    return est.join(exact_i, ["type_a", "type_b"], "left").select(
        "type_a",
        "type_b",
        "kmv_union",
        "kmv_intersection",
        F.coalesce("exact_intersection", F.lit(0).cast("long")).alias(
            "exact_intersection"
        ),
    )


# ---------------------------------------------------------------------------
# q135: deterministic quantile sketch (base-2 DDSketch) — the trio's third leg
# ---------------------------------------------------------------------------


@_q(
    "q135_ddsketch_quantiles",
    """
    WITH c AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
      FROM lineitem
    ), bk AS (
      SELECT flag, length(bin(c)) AS b,
             c >> greatest(length(bin(c)) - 5, 0) AS high,
             count(*) AS cnt
      FROM c GROUP BY 1, 2, 3
    ), cum AS (
      SELECT flag, b, high, cnt,
             high << greatest(b - 5, 0) AS rep,
             sum(cnt) OVER (PARTITION BY flag ORDER BY b, high) AS cs,
             sum(cnt) OVER (PARTITION BY flag) AS n
      FROM bk
    ), est AS (
      SELECT flag, CAST(max(n) AS BIGINT) AS n_rows,
             CAST(min(CASE WHEN cs >= (n * 50 + 99) // 100 THEN rep END) AS BIGINT) AS est_p50_cents,
             CAST(min(CASE WHEN cs >= (n * 90 + 99) // 100 THEN rep END) AS BIGINT) AS est_p90_cents,
             CAST(min(CASE WHEN cs >= (n * 99 + 99) // 100 THEN rep END) AS BIGINT) AS est_p99_cents
      FROM cum GROUP BY flag
    ), ex AS (
      SELECT l_returnflag AS flag,
             quantile_cont(l_extendedprice, 0.5) * 100 AS e50,
             quantile_cont(l_extendedprice, 0.9) * 100 AS e90,
             quantile_cont(l_extendedprice, 0.99) * 100 AS e99
      FROM lineitem GROUP BY 1
    )
    SELECT est.flag, n_rows, est_p50_cents, est_p90_cents, est_p99_cents,
           CAST(floor(abs(est_p50_cents - e50) * 10000.0 / e50 + 0.5) AS BIGINT) AS err50_bp,
           CAST(floor(abs(est_p90_cents - e90) * 10000.0 / e90 + 0.5) AS BIGINT) AS err90_bp,
           CAST(floor(abs(est_p99_cents - e99) * 10000.0 / e99 + 0.5) AS BIGINT) AS err99_bp
    FROM est JOIN ex ON est.flag = ex.flag
    """,
)
def q135_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch completing the deterministic trio (HLL distinct,
    CMS frequency, DD quantiles): a base-2 DDSketch over integer cents
    — bucket key = (bit_length, top-5-bits), i.e. the value's octave
    and a 16-way sub-bucket, all integer shifts both engines compute
    identically. Guarantees: relative error <= 1/16 per estimate
    (bucket lower bound within 6.25% of any member), state bounded at
    ~16 x 64 counters per group however large the input, counters
    merge by SUM. The quantile readout is a cumulative-count walk over
    the tiny bucket table (partitioned window on <= a few hundred
    rows), never a sort of the data. err*_bp columns report measured
    error against the exact interpolated percentile (the per-group
    sort the sketch replaces at 100 TB — q43's exact form)."""
    from batch_process_spark.operators.sketches import (
        dd_bucket_table,
        dd_quantile_readout,
    )

    li = _t(spark, sf_dir, "lineitem")
    c = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    cents = li.select(F.col("l_returnflag").alias("flag"), c.alias("c"))
    buckets = dd_bucket_table(cents, "c", ["flag"])
    est = (
        dd_quantile_readout(buckets, ["flag"], [50, 90, 99])
        .withColumnRenamed("p50", "est_p50_cents")
        .withColumnRenamed("p90", "est_p90_cents")
        .withColumnRenamed("p99", "est_p99_cents")
    )
    ex = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        (F.expr("percentile(l_extendedprice, 0.5)") * 100).alias("e50"),
        (F.expr("percentile(l_extendedprice, 0.9)") * 100).alias("e90"),
        (F.expr("percentile(l_extendedprice, 0.99)") * 100).alias("e99"),
    )

    def err(est_col: str, ex_col: str, alias: str):
        return F.floor(
            F.abs(F.col(est_col) - F.col(ex_col)) * 10000.0 / F.col(ex_col) + F.lit(0.5)
        ).cast("long").alias(alias)

    return est.join(ex, "flag").select(
        "flag",
        "n_rows",
        "est_p50_cents",
        "est_p90_cents",
        "est_p99_cents",
        err("est_p50_cents", "e50", "err50_bp"),
        err("est_p90_cents", "e90", "err90_bp"),
        err("est_p99_cents", "e99", "err99_bp"),
    )


# ---------------------------------------------------------------------------
# q136: table profiling — the unpivot + sketch pass a 100 TB intake runs
# ---------------------------------------------------------------------------

# ONE list of (column, duckdb-expr, spark-expr) triples for the orders
# table — both engines' unpivots derive from it, so names, order, and
# canonicalization cannot drift. Canonical forms: integers cast to
# strings (identical formatting both engines), doubles quantized to
# integer cents FIRST (raw double->string formatting is
# engine-defined), timestamps via the verified '%Y-%m-%d %H:%M:%S'
# rendering, strings as-is.
_PROFILE_COLS = [
    ("o_orderkey", "CAST(o_orderkey AS VARCHAR)", "CAST(o_orderkey AS STRING)"),
    ("o_custkey", "CAST(o_custkey AS VARCHAR)", "CAST(o_custkey AS STRING)"),
    ("o_orderstatus", "o_orderstatus", "o_orderstatus"),
    (
        "o_totalprice",
        "CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)",
        "CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING)",
    ),
    (
        "o_orderdate",
        "strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')",
        "date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss')",
    ),
    ("o_orderpriority", "o_orderpriority", "o_orderpriority"),
]

_DUCK_PROFILE_UNPIVOT = " UNION ALL ".join(
    f"SELECT '{name}' AS scope, {duck} AS key FROM orders"
    for name, duck, _ in _PROFILE_COLS
)


def profile_frame(unpivoted: DataFrame) -> DataFrame:
    """Assemble the profile from an unpivoted (scope, key) frame:
    per-column row/null counts LEFT-joined with the HLL cardinality
    estimate and the exact validation count — LEFT so an all-NULL
    column (exactly the data-quality case a profile exists to flag)
    keeps its stats row with distinct counts of 0 instead of silently
    vanishing through an inner join."""
    u = memoized_persist(unpivoted)
    stats = u.groupBy("scope").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("key").isNull().cast("long")).alias("n_nulls"),
    )
    nn = u.filter(F.col("key").isNotNull())
    est = hll_estimate(
        hll_register_table(nn, "key", ["scope"], p=_HLL_P), ["scope"], p=_HLL_P
    ).withColumnRenamed("hll_estimate", "approx_distinct")
    exact = nn.groupBy("scope").agg(F.count_distinct("key").alias("exact_distinct"))
    return (
        stats.join(est, "scope", "left")
        .join(exact, "scope", "left")
        .select(
            F.col("scope").alias("col_name"),
            "n_rows",
            "n_nulls",
            F.coalesce("approx_distinct", F.lit(0).cast("long")).alias("approx_distinct"),
            F.coalesce("exact_distinct", F.lit(0).cast("long")).alias("exact_distinct"),
        )
    )


@_q(
    "q136_table_profile",
    f"""
    WITH u AS ({_DUCK_PROFILE_UNPIVOT}),
    k AS (SELECT scope, key FROM u WHERE key IS NOT NULL),
    {_DUCK_HLL_REGS_FROM_K},
    est AS ({_duck_hll_estimate("scope", "regs", "approx_distinct")}
    ), stats AS (
      SELECT scope,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN key IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
      FROM u GROUP BY scope
    ), exact AS (
      SELECT scope, CAST(count(DISTINCT key) AS BIGINT) AS exact_distinct FROM k GROUP BY scope
    )
    SELECT stats.scope AS col_name, n_rows, n_nulls,
           COALESCE(approx_distinct, 0) AS approx_distinct,
           COALESCE(exact_distinct, 0) AS exact_distinct
    FROM stats
    LEFT JOIN est ON est.scope = stats.scope
    LEFT JOIN exact ON exact.scope = stats.scope
    """,
)
def q136_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling — the intake pass a 100 TB pipeline runs before
    touching new data: per-column row/null counts and distinct-
    cardinality estimates, in ONE scan (the unpivot is stack — a
    map-side Generate — and is persisted so the three aggregate
    branches read the materialized frame instead of re-scanning).
    Nulls aggregate per column; the SAME HLL register machinery as
    q127 sketches every column's cardinality at once (columns x 256
    register rows total). Canonical forms make the hashes
    engine-portable: integers/strings verbatim, doubles quantized to
    integer cents (raw double→string formatting is engine-defined),
    timestamps via the verified UTC rendering; both engines' unpivots
    derive from the single _PROFILE_COLS spec. The exact_distinct
    column is validation-only — per-column COUNT(DISTINCT) is
    precisely the multi-shuffle pass the profile replaces."""
    orders = _t(spark, sf_dir, "orders")
    stack_args = ", ".join(f"'{name}', {sp}" for name, _, sp in _PROFILE_COLS)
    u = orders.selectExpr(f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (scope, key)")
    return profile_frame(u)


# ---------------------------------------------------------------------------
# q130: blocked edit-distance fuzzy join over the part-name dictionary
# ---------------------------------------------------------------------------

_FUZZ_D = 2  # max edit distance; block size d+1 keeps blocking lossless


def blocked_fuzzy_pairs(
    names: DataFrame, name_col: str = "p_name", d: int = _FUZZ_D
) -> DataFrame:
    """(name_a, name_b, dist) pairs within edit distance ``d`` over a
    name dictionary, via LOSSLESS length banding: with block =
    len div (d+1), |len_a - len_b| <= d forces blocks to differ by at
    most 1, so replicating one side into its 3 neighbor blocks and
    equi-joining on block covers every qualifying pair exactly once
    (probe block = build block + offset is unique per pair). The
    O(dict^2) explosion of a naive similarity join never happens.
    Extra columns on ``names`` ride through suffixed _a/_b."""
    blk = F.floor(F.length(name_col) / (d + 1)).cast("long")
    others = [c for c in names.columns if c != name_col]

    probe = names.select(
        F.col(name_col).alias("name_a"),
        *[F.col(c).alias(f"{c}_a") for c in others],
        blk.alias("blk"),
    )
    build = names.select(
        F.col(name_col).alias("name_b"),
        *[F.col(c).alias(f"{c}_b") for c in others],
        F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))).alias("__off"),
        blk.alias("__b"),
    ).select(
        "name_b", *[f"{c}_b" for c in others], (F.col("__b") + F.col("__off")).alias("blk")
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        probe.join(build, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.abs(F.length("name_a") - F.length("name_b")) <= d)
        .filter(dist <= d)
        .select(
            "name_a",
            "name_b",
            dist.cast("long").alias("dist"),
            *[f"{c}_a" for c in others],
            *[f"{c}_b" for c in others],
        )
    )



@_q(
    "q130_fuzzy_name_join",
    f"""
    WITH n AS (
      SELECT p_name, CAST(count(*) AS BIGINT) AS n_parts FROM part GROUP BY p_name
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM n a JOIN n b ON a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_FUZZ_D}
    """,
)
def q130_fuzzy_name_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join: part-name pairs within edit distance 2. The
    dictionary pattern for string similarity at scale: dedupe the value
    column first (the 2000-part fixture has 64 distinct names; real
    corpora compress similarly), join the tiny dictionary via the
    lossless length-banded ``blocked_fuzzy_pairs``, map back via the
    per-name counts. The oracle is the INDEPENDENT brute-force
    formulation."""
    parts = _t(spark, sf_dir, "part")
    names = parts.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_parts"))
    return blocked_fuzzy_pairs(names).select(
        "name_a", "name_b", "dist", "n_parts_a", "n_parts_b"
    )
