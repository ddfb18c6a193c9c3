"""Deduplication operators for large-scale corpus cleaning.

Five families, all designed to scale to ~100 TB:

- **exact** — content-hash groupBy. One shuffle on a 128-bit hash; the
  canonical-row pick uses ``min_by`` so output is deterministic.
- **MinHash + LSH** — shingle -> per-permutation minhash -> banded
  buckets -> candidate join. Signature computation is map-only (array
  expressions, no explode shuffle); only candidates shuffle.
- **SimHash** — 64-bit signature from token hashes; near-dup = small
  Hamming distance within banded buckets.
- **n-gram Jaccard** — exact verification, blocked by a cheap key so the
  pairwise join never goes quadratic on the full corpus.
- **embedding cosine** — see ``similarity.py`` (shared machinery).

The hash family is md5-based (``md5(seed || ':' || shingle)``) rather
than Spark's murmur ``hash()`` so results are engine-portable and
seed-stable — the DuckDB correctness oracle computes the identical
signatures. md5 is computed JVM-side (no Python in the hot path).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from batch_process_spark.operators.caching import memoized_persist


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition up if the input arrived in fewer partitions than the
    cluster has cores (e.g. one small parquet file). CPU-bound map
    stages (hashing, shingling) otherwise run on a fraction of the
    machine; the shuffle cost is trivial relative to the win. No-op
    when the input is already parallel enough (the 100 TB case)."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def content_hash(col: Column | str) -> Column:
    """128-bit content hash (md5 hex) — cheap and collision-safe enough
    for dedup keys at 100 TB (expect ~0 collisions below 2^64 docs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one deterministic representative per distinct content.

    Returns the FULL representative row (all input columns, min-id row
    wins) plus ``dup_count`` — ``min_by(struct(...), id)`` carries the
    whole winning row through the aggregation, so callers can recover
    the surviving record, not just its id.

    Single shuffle on the hash. Scale note: group cardinality ==
    distinct docs, so AQE coalesces post-shuffle partitions; no
    driver-side state.
    """
    other = [c for c in df.columns if c != id_col]
    return (
        df.groupBy(content_hash(text_col).alias("__h"))
        .agg(
            F.min_by(F.struct(F.col(id_col), *[F.col(c) for c in other]), F.col(id_col)).alias("__rep"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("__rep.*", "dup_count")
    )


def duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """All ids per duplicated content (dup_count > 1), ids sorted."""
    return (
        df.groupBy(content_hash(text_col).alias("content_md5"))
        .agg(
            F.array_sort(F.collect_list(id_col)).alias("ids"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------------------
# shingling + MinHash
# ---------------------------------------------------------------------------

def tokens_col(text: Column | str) -> Column:
    """Lowercased word tokens (non-alnum separators).

    Implemented as ``regexp_extract_all`` of the POSITIVE token class
    rather than ``split`` on the negated separator class: identical
    values (verified 0 mismatches over a 1M-doc corpus), but the
    split-on-``[^0-9a-zA-Z]+`` form hits a Java-regex slow path for
    negated MULTI-range classes — measured 52.6 s vs 1.0 s per 1M docs
    on local[32] (round-9 profiling; single-range negations like
    ``[^0-9]`` are unaffected). Same pathology, same fix as the punct
    count in operators/text.py. The DuckDB oracle keeps the
    split-form SQL (RE2 has no such cliff) — values are equal."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(F.trim(c)), F.lit(r"[0-9a-z]+"), 0)


def shingles_col(text: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles as an array<string> — pure array
    expressions, evaluated JVM-side with zero shuffle.

    Built from shifted slices zipped together rather than indexed
    lookups: higher-order functions are interpreted (no codegen), so a
    lambda that captures the token array re-evaluates it per element —
    O(n^2) per row. Slices + zip_with evaluate the token array a
    constant number of times. Short docs (< k tokens) yield one shingle
    of all available tokens (zip_with NULL-pads, concat_ws skips NULLs).
    """
    w = tokens_col(text)
    n = F.size(w)
    length = F.greatest(n - (k - 1), F.lit(1))
    out = F.slice(w, 1, length)
    for j in range(1, k):
        out = F.zip_with(out, F.slice(w, j + 1, length), lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(out)


# Universal-hash family for MinHash: h_j(x) = (a_j * x + b_j) mod P with
# x a 32-bit fingerprint of the shingle (first 8 md5 hex chars). One md5
# per shingle; permutations are integer ops. Deterministic constants
# from a fixed LCG so the DuckDB oracle reproduces them exactly.
# a < 2^31, x < 2^32 => a*x + b < 2^63 (no overflow in either engine).
MINHASH_P = 4294967311  # smallest prime > 2^32


def _lcg_constants(n: int, seed: int) -> list[int]:
    out, state = [], seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        out.append(state % ((1 << 31) - 1) + 1)
    return out


MINHASH_A = _lcg_constants(64, 42)
MINHASH_B = _lcg_constants(64, 1337)


def shingle_fingerprint(s: Column) -> Column:
    """32-bit integer fingerprint of a shingle: first 8 md5 hex chars."""
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def minhash_docs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """(id, sig) per doc via explode + partial aggregation.

    An array-expression form (a ``transform``/``aggregate`` over the
    shingle array) evaluates lambdas in Spark's interpreted mode; the
    explode form keeps everything inside whole-stage codegen: one row per
    shingle, one md5, ``num_hashes`` integer min-aggregates with
    map-side combine, so the shuffle carries only (id, 16 longs) per
    doc. This is the 100 TB-shaped plan.
    """
    exploded = df.select(
        F.col(id_col), F.explode(shingles_col(text_col, k)).alias("__s")
    ).withColumn("__x", shingle_fingerprint(F.col("__s")))
    aggs = [
        F.min((F.lit(MINHASH_A[j]) * F.col("__x") + F.lit(MINHASH_B[j])) % MINHASH_P).alias(f"__m{j}")
        for j in range(num_hashes)
    ]
    return (
        exploded.groupBy(id_col)
        .agg(*aggs)
        .select(F.col(id_col), F.array(*[F.col(f"__m{j}") for j in range(num_hashes)]).alias("sig"))
    )


def band_key_array(num_hashes: int = 16, bands: int = 4, sig_col: str = "sig") -> Column:
    """The LSH band keys of a minhash signature column as an array —
    md5 of each band's rows, band index salted in so equal row-slices
    in different bands never collide. Shared by the batch self-join
    (``lsh_candidate_pairs``), the streaming corpus index
    (``streaming/neardup.py``), and the DuckDB oracle's band_exprs."""
    rows = num_hashes // bands
    return F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[
                        F.element_at(sig_col, b * rows + r + 1).cast("string")
                        for r in range(rows)
                    ],
                )
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Banded-LSH candidate pairs (a < b) from a (id, sig) frame.

    Each band's key is md5 of its rows — docs agreeing on any band
    collide. The self-join shuffles only on band keys; hot buckets
    (boilerplate-heavy corpora) are handled by AQE skew-join splitting.
    (A ``build_sigs`` inlined-right-side variant was measured in round
    8 and removed: see the revert note in ``minhash_near_dup_pairs``.)
    """
    banded = sigs.select(
        F.col(id_col),
        F.explode(band_key_array(num_hashes, bands)).alias("band_key"),
    )
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right, on="band_key")
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return pairs


def shingle_frame(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(id, shingles array<string>) via an Arrow-batched kernel.

    Semantics identical to ``shingles_col`` (regex token split, lower,
    distinct k-grams; <k tokens => one shingle of all tokens), but
    computed in vectorized Python instead of Spark's interpreted
    higher-order expressions — ~10x faster per pass on wide text and
    the natural place to run at 100 TB (map-only, no shuffle).
    """
    import re as _re

    import pandas as pd

    id_type = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[id_col]
    pat = _re.compile(r"[^0-9a-zA-Z]+")

    def batches(it):
        for pdf in it:
            shingles = []
            for t in pdf[text_col]:
                toks = [w for w in pat.split((t or "").strip().lower()) if w]
                if not toks:
                    shingles.append([])
                elif len(toks) < k:
                    shingles.append([" ".join(toks)])
                else:
                    seen = dict.fromkeys(
                        " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
                    )
                    shingles.append(list(seen))
            yield pd.DataFrame({id_col: pdf[id_col], "shingles": shingles})

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        batches, schema=f"{id_col} {id_type}, shingles array<string>"
    )


def shingle_sig_frame(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_hashes: int = 16
) -> DataFrame:
    """(id, shingles, sig) in ONE Arrow pass — shingling as in
    ``shingle_frame`` plus the minhash signature computed vectorized
    (md5-fingerprint each shingle, then a numpy min over the same
    (a*x+b) mod P family as the JVM form — bit-exact with
    ``minhash_docs`` and the DuckDB oracle).

    This is the zero-shuffle signature path: map-only end to end, so
    the LSH pipeline's only wide stage is the banded candidate join.
    The explode+partial-agg form (``minhash_docs``) remains for
    shingle-set reuse-free callers; at 100 TB both are linear scans,
    but this one materializes signatures without moving 1 row per
    shingle through an aggregate.
    """
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd

    id_type = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[id_col]
    pat = _re.compile(r"[^0-9a-zA-Z]+")
    A = np.array(MINHASH_A[:num_hashes], dtype=np.int64)
    B = np.array(MINHASH_B[:num_hashes], dtype=np.int64)
    empty_sig = [int(MINHASH_P)] * num_hashes  # min over no shingles: every slot at P

    def batches(it):
        for pdf in it:
            shingles, sigs = [], []
            for t in pdf[text_col]:
                toks = [w for w in pat.split((t or "").strip().lower()) if w]
                if not toks:
                    sh = []
                elif len(toks) < k:
                    sh = [" ".join(toks)]
                else:
                    sh = list(
                        dict.fromkeys(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))
                    )
                shingles.append(sh)
                if not sh:
                    sigs.append(empty_sig)
                    continue
                xs = np.fromiter(
                    (int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in sh),
                    dtype=np.int64,
                    count=len(sh),
                )
                # a<2^31, x<2^32 => a*x+b < 2^63: exact in int64
                sigs.append(((xs[:, None] * A[None, :] + B[None, :]) % MINHASH_P).min(axis=0).tolist())
            yield pd.DataFrame({id_col: pdf[id_col], "shingles": shingles, "sig": sigs})

    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        batches, schema=f"{id_col} {id_type}, shingles array<string>, sig array<long>"
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two string arrays (assumed distinct elements)."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: shingle -> sign -> band ->
    candidates -> exact-Jaccard verify >= threshold.

    Returns (id_a, id_b, jaccard_sim). Only candidate pairs are
    verified, so the expensive exact step touches a tiny fraction of
    the corpus-squared space.
    """
    base = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    # One Arrow-batched shingle+signature pass, persisted and memoized
    # on the input plan: feeds the banded join and the two verify
    # probes, and is reused across invocations over the same input
    # (the handle is also exposed on the returned DataFrame as
    # ``_bps_persisted``; unpersisting it early is harmless — the memo
    # entry then recomputes lazily instead of reading cache).
    # Signatures are computed INSIDE the kernel (map-only): the only
    # wide stage in the whole pipeline is the banded candidate join.
    sh = memoized_persist(
        base, id_col, text_col, k, num_hashes,
        build=lambda: shingle_sig_frame(base, id_col, text_col, k, num_hashes),
    )
    # Empty/non-alphanumeric docs all carry the identical sentinel
    # signature ([P]*n) and would collide in EVERY band — O(E^2)
    # candidate pairs among E empty docs, pruned only post-join because
    # jaccard([],[]) is 0/0 -> NULL. Drop them before banding: they can
    # never verify, so the result is unchanged and the banded join
    # never sees the degenerate bucket.
    sigs = sh.filter(F.size("shingles") > 0).select(F.col(id_col), F.col("sig"))
    # (Plan-time inlining of the build sides via joins.inline_local was
    # MEASURED here and reverted: a LocalTableScan build side
    # re-serializes its rows on every broadcast build, and the shingle
    # arrays are MBs — the flat build cost more than re-scanning the
    # persisted shingle frame. The persisted-scan builds also share one
    # reused exchange across the two verify probes.)
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    verified = (
        cands.join(sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")), "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", F.round("jaccard_sim", 6).alias("jaccard_sim"))
    )
    verified._bps_persisted = sh
    return verified


def minhash_candidate_audit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Audit of the LSH CANDIDATE stage (the part threshold-filtering
    hides): every banded candidate pair gets its exact Jaccard, and the
    output is the candidate-quality histogram — (j_decile, n_pairs,
    frac) — i.e. how much of the expensive verify budget the banding
    spends on sub-threshold pairs. Tuning bands/rows moves this
    histogram; a fat low-decile tail at scale means wasted verify I/O.

    Same pipeline stages as ``minhash_near_dup_pairs`` (shared memoized
    shingle frame, map-only signatures, banded join as the only wide
    stage); the histogram adds one decile-keyed partial agg plus a
    1-row total broadcast."""
    base = ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
    sh = memoized_persist(
        base, id_col, text_col, k, num_hashes,
        build=lambda: shingle_sig_frame(base, id_col, text_col, k, num_hashes),
    )
    sigs = sh.filter(F.size("shingles") > 0).select(F.col(id_col), F.col("sig"))
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    js = (
        cands.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
            "id_b",
        )
        .select(F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("js"))
    )
    d = js.groupBy(
        F.least(F.floor(F.col("js") * 10).cast("int"), F.lit(9)).alias("j_decile")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))
    tot = d.agg(F.sum("n_pairs").alias("tot"))
    from batch_process_spark.functions.rounding import round_half_up

    return d.crossJoin(F.broadcast(tot)).select(
        "j_decile",
        "n_pairs",
        round_half_up(F.col("n_pairs") / F.col("tot"), 6).alias("frac"),
    )


# ---------------------------------------------------------------------------
# blocked exact n-gram Jaccard
# ---------------------------------------------------------------------------

def blocked_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    k: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact k-gram Jaccard pairs within blocking-key groups.

    Blocking (e.g. on (lang, length-bucket)) keeps the self-join from
    going quadratic: pairs are only formed inside a block. The join
    shuffles on the block key; skewed blocks split via AQE.
    """
    base = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        (shingles_col(text_col, k) if k > 1 else F.array_distinct(tokens_col(text_col))).alias("grams"),
    )
    a = base.alias("a")
    b = base.alias("b")
    cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
    cond.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    from functools import reduce

    return (
        a.join(b, reduce(lambda x, y: x & y, cond))
        .withColumn("jaccard_sim", jaccard(F.col("a.grams"), F.col("b.grams")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round("jaccard_sim", 6).alias("jaccard_sim"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _hex_nibble_value(ch: Column) -> Column:
    """hex char -> 0..15 via position lookup (engine-portable)."""
    return F.instr(F.lit("0123456789abcdef"), ch) - 1


def simhash_bits(text: Column | str, n_bits: int = 64) -> Column:
    """SimHash signature as an array<int> of ``n_bits`` bits (1/0).

    Token hash bits come from md5 hex nibbles (portable across engines,
    unlike murmur). Bit j of token t = (nibble(j//4) >> (3 - j%4)) & 1.
    The signature bit is the majority vote across the doc's distinct
    tokens. All array expressions — map-only, JVM-side.
    """
    toks = F.array_distinct(tokens_col(text))
    hashes = F.transform(toks, lambda t: F.md5(t))
    n_tok = F.size(hashes)

    def bit_of(h: Column, j: int) -> Column:
        nib = _hex_nibble_value(F.substring(h, j // 4 + 1, 1))
        return F.shiftright(nib, 3 - j % 4) % 2

    def merge_for(jj: int):
        # nb: a `jj=j` default arg would change the lambda's arity and
        # break PySpark's higher-order-function binding — use a closure.
        return lambda acc, h: acc + bit_of(h, jj)

    bits = [
        (F.aggregate(hashes, F.lit(0), merge_for(j)) * 2 > n_tok).cast("int")
        for j in range(n_bits)
    ]
    return F.array(*bits)


def simhash_hex(text: Column | str, n_bits: int = 64) -> Column:
    """SimHash as a hex string (4 bits per char), convenient for
    equality bucketing and storage."""
    bits = simhash_bits(text, n_bits)
    nibbles = F.transform(
        F.sequence(F.lit(0), F.lit(n_bits // 4 - 1)),
        lambda i: F.substring(
            F.lit("0123456789abcdef"),
            (
                F.element_at(bits, i * 4 + 1) * 8
                + F.element_at(bits, i * 4 + 2) * 4
                + F.element_at(bits, i * 4 + 3) * 2
                + F.element_at(bits, i * 4 + 4)
            ) + 1,
            1,
        ),
    )
    return F.array_join(nibbles, "")


def simhash_docs(df: DataFrame, id_col: str, text_col: str, n_bits: int = 64) -> DataFrame:
    """(id, sig hex-string) per doc — the scale-shaped SimHash plan.

    Explode distinct tokens, hash each once (md5, codegen'd), then
    ``n_bits`` integer sum-aggregates with map-side combine; majority
    vote and hex packing happen on the tiny post-shuffle rows. Same
    bit math as ``simhash_bits`` (verified equal in tests), but
    whole-stage-codegen throughout instead of interpreted lambdas.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens_col(text_col))).alias("__t")
    ).withColumn("__h", F.md5(F.col("__t")))
    bit_aggs = []
    for j in range(n_bits):
        nib = _hex_nibble_value(F.substring(F.col("__h"), j // 4 + 1, 1))
        bit_aggs.append(F.sum(F.shiftright(nib, 3 - j % 4) % 2).alias(f"__b{j}"))
    counted = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *bit_aggs)
    bits = [
        (F.col(f"__b{j}") * 2 > F.col("__n")).cast("int") for j in range(n_bits)
    ]
    nibbles = [
        F.substring(
            F.lit("0123456789abcdef"),
            bits[i * 4] * 8 + bits[i * 4 + 1] * 4 + bits[i * 4 + 2] * 2 + bits[i * 4 + 3] + 1,
            1,
        )
        for i in range(n_bits // 4)
    ]
    return counted.select(F.col(id_col), F.concat(*nibbles).alias("sig"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 64,
    band_nibbles: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the hex signature (docs within
    Hamming distance d share at least one of >d bands by pigeonhole),
    join on band, verify Hamming distance on the bit arrays."""
    docs = df.select(
        F.col(id_col),
        simhash_bits(text_col, n_bits).alias("bits"),
        simhash_hex(text_col, n_bits).alias("sig"),
    )
    n_bands = (n_bits // 4) // band_nibbles
    banded = docs.select(
        F.col(id_col),
        F.col("bits"),
        F.explode(
            F.array(
                *[
                    F.concat(F.lit(f"{b}:"), F.substring("sig", b * band_nibbles + 1, band_nibbles))
                    for b in range(n_bands)
                ]
            )
        ).alias("band_key"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.aggregate(
        F.zip_with(F.col("a.bits"), F.col("b.bits"), lambda x, y: (x != y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, on="band_key")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
