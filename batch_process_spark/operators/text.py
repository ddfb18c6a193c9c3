"""Text-analysis operators for training-data pipelines.

All pure Column expressions (JVM-side, codegen'd, zero Python in the
hot path): language ID, quality scoring, token counting, document
fingerprinting. Designed map-only — none of these shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from batch_process_spark.operators.dedup import tokens_col

# small, public stopword lists (top function words per language)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "nicht", "zu"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "pas", "pour"],
    "es": ["el", "la", "los", "y", "de", "un", "una", "es", "no", "para"],
}


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count: the number of maximal alphanumeric runs
    — exactly ``size(tokens_col(text))``, but counted with ONE
    regexp_count pass: no token array is materialized at all (measured
    2x cheaper than split+filter and another ~15% over
    size(regexp_extract_all); lower/trim cannot change the run count).
    NULL text counts NULL (matches SQL len(regexp_extract_all) on
    engines where that is NULL-propagating)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(r"[0-9a-zA-Z]+"))


def token_count_bpe_ish(text: Column | str) -> Column:
    """BPE-ish token estimate: count word pieces + digits + punctuation
    runs (a cheap proxy for subword tokenizers, one regexp_count pass —
    nothing materialized)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(r"[A-Za-z]{1,4}|\d|[^\sA-Za-z\d]"))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are ``lang`` stopwords."""
    toks = tokens_col(text)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    n_sw = F.size(F.array_intersect(F.array_distinct(toks), sw))
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def lang_id(text: Column | str) -> Column:
    """Heuristic language ID: argmax stopword ratio across known
    languages; 'und' (undetermined) when every ratio is 0."""
    toks = tokens_col(text)
    n = F.size(toks)
    scores = []
    for code, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        scores.append(F.struct((hits / F.greatest(n, F.lit(1))).alias("score"), F.lit(code).alias("code")))
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["code"]).otherwise(F.lit("und"))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-signal columns used by corpus filters:

    - n_chars / n_tokens / mean_token_len
    - punct_ratio, digit_ratio, upper_ratio (char classes)
    - stopword_ratio_en
    - quality_score in [0,1]: penalizes extreme length, high punct or
      digit density, and missing stopwords (boilerplate/code smell) —
      the classic Gopher/C4-style heuristic family.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    toks = tokens_col(t)
    n_tokens = F.size(toks)
    mean_tok = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    # explicit ASCII punct ranges (portable across Java regex and RE2).
    # ALL char-class counts go through regexp_count of the POSITIVE
    # class — value-identical to length(regexp_replace(negated-class,
    # '')) and two distinct measured cliffs cheaper: (a) replacing a
    # negated MULTI-range class is 78x slower in Java regex (62.5 s vs
    # 0.8 s per 1M docs, round 9); (b) even a SINGLE-range replace,
    # harmless alone (1.0 s), de-optimizes the whole projection when it
    # shares codegen with regexp_counts (three counts fused 1.0 s;
    # count+replace+count 42.7 s per 1M docs, round 10 — q222's entire
    # 45 s quality floor was this combination).
    punct = F.regexp_count(t, F.lit(r"[!-/:-@\[-`{-~]"))
    digits = F.regexp_count(t, F.lit(r"[0-9]"))
    uppers = F.regexp_count(t, F.lit(r"[A-Z]"))
    swr = stopword_ratio(t, "en")
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    digit_ratio = F.when(n_chars > 0, digits / n_chars).otherwise(F.lit(0.0))
    upper_ratio = F.when(n_chars > 0, uppers / n_chars).otherwise(F.lit(0.0))
    score = (
        F.lit(1.0)
        - F.least(punct_ratio * 2, F.lit(0.4))
        - F.least(digit_ratio * 2, F.lit(0.3))
        - F.when((n_tokens < 5) | (n_tokens > 100000), 0.3).otherwise(0.0)
    )
    return (
        df.withColumn("n_chars_q", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("mean_token_len", F.round(mean_tok, 6))
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("digit_ratio", F.round(digit_ratio, 6))
        .withColumn("upper_ratio", F.round(upper_ratio, 6))
        .withColumn("stopword_ratio_en", F.round(swr, 6))
        .withColumn("quality_score", F.round(F.greatest(score, F.lit(0.0)), 6))
    )


# PII patterns (RE2/Java-compatible subset — portable to the oracle)
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "url": r"https?://[^\s]+",
    "phone": r"\+?[0-9][0-9 ()-]{7,}[0-9]",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def redact_pii(text: Column | str, kinds: list[str] | None = None) -> Column:
    """Replace emails/URLs/phones/IPs with ``<KIND>`` tokens — the
    standard pre-training scrub pass. One regexp_replace per kind,
    chained map-only (order: url before phone so digits inside URLs
    are already gone)."""
    c = F.col(text) if isinstance(text, str) else text
    for kind in kinds or ["url", "email", "phone", "ipv4"]:
        c = F.regexp_replace(c, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return c


def ngrams_col(text: Column | str, n: int = 2) -> Column:
    """Word n-grams (non-distinct — frequency-preserving, unlike the
    dedup shingles)."""
    from batch_process_spark.operators.dedup import tokens_col as _tokens

    w = _tokens(text)
    size = F.size(w)
    length = F.greatest(size - (n - 1), F.lit(1))
    out = F.slice(w, 1, F.when(size >= n, length).otherwise(F.lit(0)))
    for j in range(1, n):
        out = F.zip_with(out, F.slice(w, j + 1, length), lambda a, b: F.concat_ws(" ", a, b))
    return out


def top_ngrams(df: DataFrame, text_col: str = "text", n: int = 2, k: int = 20) -> DataFrame:
    """Corpus-level top-k n-grams: explode + count + top-k. Partial
    aggregation keeps the shuffle at distinct-ngram cardinality."""
    return (
        df.select(F.explode(ngrams_col(text_col, n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("ngram"))
        .limit(k)
    )


def fingerprint(text: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted
    distinct token set. Robust to shuffling/whitespace; used as a
    cheap near-dup blocking key."""
    toks = F.array_sort(F.array_distinct(tokens_col(text)))
    return F.md5(F.array_join(toks, " "))


def ngram_frame(
    df: DataFrame, id_cols: list[str], text_col: str = "text", n: int = 2
) -> DataFrame:
    """One output row per word n-gram (frequency-preserving, same
    tokens/join as ``ngrams_col``) in a single Arrow pass — the HOF
    form is interpreted (no whole-stage codegen) and costs ~3x the
    kernel on gram-heavy corpora (same trade as the dedup module's
    ``shingle_sig_frame``). Tokenization mirrors ``tokens_col``:
    lower(trim), split on non-alphanumeric, drop empties; docs with
    fewer than ``n`` tokens emit nothing (the HOF form's empty list
    explodes to nothing)."""
    import re as _re

    import pandas as pd

    pat = _re.compile(r"[^0-9a-zA-Z]+")
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    id_schema = ", ".join(f"{c} {types[c]}" for c in id_cols)

    def batches(it):
        for pdf in it:
            ids: dict[str, list] = {c: [] for c in id_cols}
            grams: list[str] = []
            texts = pdf[text_col]
            for i in range(len(pdf)):
                toks = [w for w in pat.split((texts.iloc[i] or "").strip().lower()) if w]
                if len(toks) < n:
                    continue
                gs = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
                grams.extend(gs)
                for c in id_cols:
                    ids[c].extend([pdf[c].iloc[i]] * len(gs))
            data: dict[str, list] = {c: ids[c] for c in id_cols}
            data["g"] = grams
            yield pd.DataFrame(data)

    return df.select(*id_cols, text_col).mapInPandas(
        batches, schema=f"{id_schema}, g string"
    )


def distinct_tokens_frame(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-batch-distinct word tokens (column ``t``) in one Arrow pass;
    callers re-distinct globally (``countDistinct``/``distinct``) — the
    per-batch dedup shrinks the exchange to near-vocabulary size.
    Tokenization mirrors ``tokens_col`` exactly."""
    import re as _re

    import pandas as pd

    pat = _re.compile(r"[^0-9a-zA-Z]+")

    def batches(it):
        for pdf in it:
            seen: set[str] = set()
            for t in pdf[text_col]:
                seen.update(w for w in pat.split((t or "").strip().lower()) if w)
            yield pd.DataFrame({"t": sorted(seen)})

    return df.select(text_col).mapInPandas(batches, schema="t string")


def bm25_topk(
    docs: DataFrame,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
    limit: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """BM25 ranked retrieval for a FIXED query-term tuple, scored
    without ever shuffling tokens (the q152 engine, factored out so
    scale probes and alternate corpora reuse it): per-document term
    frequencies and document length are pure array expressions over
    the split text (map-only, whole-stage codegen), the |terms|-row
    document-frequency table and the 1-row (N, avgdl) stats broadcast
    back, and the only wide stages are the tiny per-doc sum and the
    TakeOrderedAndProject top-``limit``. At 100 TB the corpus is
    touched exactly once, map-side. Scores round to 6 decimals; ties
    break by ``id_col``."""
    toks = F.filter(F.split(text_col, " "), lambda x: x != "")
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).withColumn(
        "dl", F.size("toks")
    )
    stats = base.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))

    def _tf(term: str):
        # the lambda must stay unary — a second (default) parameter
        # flips PySpark's HOF into the (element, index) binary form
        return F.filter(F.col("toks"), lambda x: x == F.lit(term))

    tf_cols = [
        F.size(_tf(t)).cast("long").alias(f"__tf{i}") for i, t in enumerate(terms)
    ]
    # (token, tf) rows via explode-of-structs so the terms ride as BOUND
    # literals — never interpolated into generated SQL (a term with a
    # quote must score, not parse-error/inject; same rule as
    # operators/quality.py's check_constraints).
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(t).alias("token"), F.col(f"__tf{i}").alias("tf")
                )
                for i, t in enumerate(terms)
            ]
        )
    ).alias("__pair")
    hits = (
        base.select("doc_id", "dl", *tf_cols)
        .select("doc_id", "dl", pairs)
        .select("doc_id", "dl", "__pair.token", "__pair.tf")
        .filter(F.col("tf") > 0)
    )
    dfreq = hits.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    contrib = (
        hits.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
            ).alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.round(F.sum("c"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(limit)
    )
