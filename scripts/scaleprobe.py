"""Scale probe: Spark engine vs DuckDB on N-times-scaled corpora.

Answers the question the small-SF bench can't: how do the headline
data-pipeline operators (exact dedup, MinHash-LSH near-dup, embedding
top-k) behave as input grows, and how much data actually crosses the
shuffle? The corpus scales by unioning N transformed copies of
documents/embeddings — each copy remaps ids and perturbs content
(``translate(text, 'e', <copy letter>)`` / embedding nudge) so copies
don't near-duplicate each other: output size stays ~linear in N and
the workload shape is preserved, unlike naive duplication (which
inflates LSH buckets quadratically).

Both engines run the same transforms on the same parquet. Shuffle
write bytes come from Spark's REST status API (UI enabled for the
probe session only).

Usage: python scripts/scaleprobe.py [sf_dir] [N ...]   (default sf0.1, N=1 4 16)
Prints a markdown table for BASELINE.md §5.
"""

from __future__ import annotations

import json
import sys
import time
import urllib.request

import duckdb

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F

from batch_process_spark.operators import dedup, similarity
from batch_process_spark.operators.sets import union_align
from batch_process_spark.queries_ext import _minhash_oracle, _near_dup_corpus, _NEAR_DUP_CORPUS, _DOT
from batch_process_spark.session import get_spark

# copy substitution: copy i maps 'e'->c1, 'a'->c2 (both high-frequency
# letters), giving 20x20 distinct copies whose shingle spaces diverge
# from every other copy's — copies never near-duplicate each other
LETTERS = "abcdfghijklmnopqrstu"


def _subst(i: int) -> str:
    return LETTERS[i % len(LETTERS)] + LETTERS[i // len(LETTERS)]


def shuffle_write_bytes(ui_port: int = 4040):
    """Total shuffle write bytes across completed stages (REST API);
    None when the UI poll fails (callers must print n/a, not deltas)."""
    base = f"http://localhost:{ui_port}/api/v1"
    try:
        apps = json.load(urllib.request.urlopen(f"{base}/applications", timeout=5))
        app_id = apps[0]["id"]
        stages = json.load(
            urllib.request.urlopen(f"{base}/applications/{app_id}/stages?status=complete", timeout=5)
        )
        return sum(s.get("shuffleWriteBytes", 0) for s in stages)
    except Exception:
        return None


def shuffle_delta(sb0, sb1):
    """(MB string, bytes/row closure) from two polls; n/a if either failed."""
    if sb0 is None or sb1 is None:
        return None
    return sb1 - sb0


def fmt_shuffle(delta, n_rows):
    if delta is None:
        return "n/a | n/a"
    return f"{delta / 2**20:.1f} | {delta / max(n_rows, 1):.0f}"


def scaled_docs_spark(spark, sf_dir: str, n_copies: int):
    base = _near_dup_corpus(spark, sf_dir)
    copies = [
        base.select(
            (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
            F.translate(F.col("text"), "ea", _subst(i)).alias("text"),
        )
        for i in range(n_copies)
    ]
    return union_align(copies)


def scaled_docs_sql(n_copies: int) -> str:
    return " UNION ALL ".join(
        f"SELECT doc_id + {i * 10_000_000} AS doc_id, translate(text, 'ea', '{_subst(i)}') AS text "
        f"FROM ({_NEAR_DUP_CORPUS})"
        for i in range(n_copies)
    )


def scaled_emb_spark(spark, sf_dir: str, n_copies: int):
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    copies = [
        base.select(
            (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: x.cast("double") + F.lit(i * 1e-4)).alias("embedding"),
        )
        for i in range(n_copies)
    ]
    return union_align(copies)


def scaled_emb_sql(sf_dir: str, n_copies: int) -> str:
    return " UNION ALL ".join(
        f"SELECT vec_id + {i * 10_000_000} AS vec_id, "
        f"list_transform(embedding, x -> x::DOUBLE + {i * 1e-4}) AS embedding "
        f"FROM read_parquet('{sf_dir}/embeddings.parquet')"
        for i in range(n_copies)
    )


def t_spark(build) -> float:
    """Time CONSTRUCTION + execution: some operators run eager jobs at
    build time (global_ranks' range sampling + rank materialization,
    brute_force_topk's guarded query collect) — evaluating build()
    outside the clock would exclude their dominant work."""
    t0 = time.time()
    build().write.format("noop").mode("overwrite").save()
    return time.time() - t0


def t_duck(con, sql: str) -> float:
    t0 = time.time()
    con.sql(f"SELECT count(*) FROM ({sql})").fetchall()
    return time.time() - t0


def timed2(build, gc) -> tuple[float, float, int]:
    """(cold seconds, steady seconds, steady shuffle bytes). The first
    run pays memo/cache fills (shingle memo, ranker persist pool);
    steady is the MIN of two further runs — a forced-GC pause from the
    48 g heap intermittently lands inside one steady run and inflates
    it 3-10x (measured), and min-of-2 rejects that outlier. The
    shuffle delta covers exactly one steady run — construction
    included in both clock and bytes. ``gc`` runs between timed runs
    so the 60 s periodic driver GC + cleaner burst can't systematically
    phase-collide with the clock."""
    t1 = t_spark(build)
    gc()
    sb0 = shuffle_write_bytes()
    t2a = t_spark(build)
    sb = shuffle_delta(sb0, shuffle_write_bytes())
    gc()
    t2b = t_spark(build)
    return t1, min(t2a, t2b), sb


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    ns = [int(a) for a in sys.argv[2:]] or [1, 4, 16]
    spark = get_spark("scaleprobe", extra_conf={"spark.ui.enabled": "true"})
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')")

    def gc():
        """Reclaim broadcasts/shuffle state between timed ops (the
        ContextCleaner acts only on driver GC; letting garbage ride
        degrades later ops 5-20x and poisons the comparison)."""
        try:
            spark.sparkContext._jvm.System.gc()
            time.sleep(0.5)
        except Exception:
            pass

    print("| op | N | input rows | Spark cold (s) | Spark steady (s) | DuckDB (s) | ratio | shuffle MB | shuffle B/row |")
    print("|---|---|---|---|---|---|---|---|---|")
    for n in ns:
        docs = scaled_docs_spark(spark, sf_dir, n).cache()
        n_rows = docs.count()

        # exact dedup
        gc()
        t1, t2, sb = timed2(lambda: dedup.exact_dedup(docs, "text", "doc_id"), gc)
        d = t_duck(
            con,
            f"SELECT md5(text) AS h, min(doc_id) AS doc_id, count(*) AS dup_count "
            f"FROM ({scaled_docs_sql(n)}) GROUP BY md5(text)",
        )
        print(f"| exact_dedup | {n} | {n_rows} | {t1:.2f} | {t2:.2f} | {d:.2f} | {min(t1, t2)/d:.1f}x | {fmt_shuffle(sb, n_rows)} |")

        # HLL distinct (q127 shape) vs DuckDB EXACT count(DISTINCT):
        # the sketch's shuffle is the register table (sources x 256
        # rows, constant in N) where exact distinct shuffles every
        # distinct key — the whole reason the sketch exists at 100 TB.
        from batch_process_spark.operators.sketches import (
            hll_estimate,
            hll_register_table,
        )

        def hll_distinct():
            regs = hll_register_table(
                docs.select(
                    (F.col("doc_id") % 20).alias("grp"), F.col("text").alias("key")
                ),
                "key",
                ["grp"],
            )
            return hll_estimate(regs, ["grp"])

        gc()
        t1, t2, sb = timed2(hll_distinct, gc)
        d = t_duck(
            con,
            f"SELECT doc_id % 20 AS grp, count(DISTINCT text) AS n "
            f"FROM ({scaled_docs_sql(n)}) GROUP BY 1",
        )
        print(f"| hll_distinct | {n} | {n_rows} | {t1:.2f} | {t2:.2f} | {d:.2f} | {min(t1, t2)/d:.1f}x | {fmt_shuffle(sb, n_rows)} |")

        # DD quantile sketch (q135 shape) vs DuckDB EXACT quantile_cont:
        # the sketch shuffles the (octave, sub-bucket) counter table —
        # bounded rows, constant B/row — where the exact percentile is
        # a per-group sort of the data.
        def dd_quantiles():
            from batch_process_spark.operators.sketches import (
                dd_bucket_table,
                dd_quantile_readout,
            )

            vals = docs.select(
                (F.col("doc_id") % 20).alias("grp"), F.length("text").alias("c")
            )
            return dd_quantile_readout(
                dd_bucket_table(vals, "c", ["grp"]), ["grp"], [50, 99]
            )

        gc()
        t1, t2, sb = timed2(dd_quantiles, gc)
        d = t_duck(
            con,
            f"SELECT doc_id % 20 AS grp, quantile_cont(length(text), 0.5) AS p50, "
            f"quantile_cont(length(text), 0.99) AS p99 "
            f"FROM ({scaled_docs_sql(n)}) GROUP BY 1",
        )
        print(f"| dd_quantiles | {n} | {n_rows} | {t1:.2f} | {t2:.2f} | {d:.2f} | {min(t1, t2)/d:.1f}x | {fmt_shuffle(sb, n_rows)} |")

        # passage-level exact dedup (q112 shape): blocks assembled
        # inside the row (filter/slice/array_join, no token explode);
        # the only wide stage is the passage-hash aggregate
        def passage_dedup():
            arr = F.filter(F.split("text", " "), lambda w: w != "")
            nb = F.floor(F.size(arr) / 8).cast("int")
            blocks = F.when(
                nb > 0,
                F.transform(
                    F.sequence(F.lit(0), nb - 1),
                    lambda i: F.array_join(
                        F.slice(arr, (i * 8 + 1).cast("int"), 8), " "
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
            return (
                docs.select("doc_id", F.explode(blocks).alias("passage"))
                .groupBy(F.md5("passage").alias("h"))
                .agg(
                    F.count(F.lit(1)).alias("occ"),
                    F.countDistinct("doc_id").alias("nd"),
                )
                .filter(F.col("nd") > 1)
            )

        gc()
        t1, t2, sb = timed2(passage_dedup, gc)
        d = t_duck(
            con,
            f"""WITH w AS (
              SELECT doc_id, unnest(ws) AS word,
                     unnest(range(1, len(ws) + 1)) AS pos
              FROM (SELECT doc_id, string_split(text, ' ') AS ws
                    FROM ({scaled_docs_sql(n)}))
            ),
            w2 AS (
              SELECT doc_id, word,
                     row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS widx
              FROM w WHERE word != ''
            ),
            blk AS (
              SELECT doc_id, (widx - 1) // 8 AS b,
                     string_agg(word, ' ' ORDER BY widx) AS p, count(*) AS nw
              FROM w2 GROUP BY 1, 2
            )
            SELECT md5(p) AS h, count(*) AS occ, count(DISTINCT doc_id) AS nd
            FROM blk WHERE nw = 8 GROUP BY 1
            HAVING count(DISTINCT doc_id) > 1""",
        )
        print(f"| passage_dedup | {n} | {n_rows} | {t1:.2f} | {t2:.2f} | {d:.2f} | {min(t1, t2)/d:.1f}x | {fmt_shuffle(sb, n_rows)} |")

        # minhash near-dup (min-of-2: the first run pays the shingle
        # memo fill; the second reads it — same as any steady pipeline)
        gc()
        t1, t2, sb = timed2(
            lambda: dedup.minhash_near_dup_pairs(docs, "doc_id", "text", k=3, num_hashes=16, bands=4, threshold=0.7),
            gc,
        )
        d = t_duck(con, _minhash_oracle(corpus_sql=scaled_docs_sql(n)))
        print(f"| minhash_lsh | {n} | {n_rows} | {t1:.2f} | {t2:.2f} | {d:.2f} | {min(t1, t2)/d:.1f}x | {fmt_shuffle(sb, n_rows)} |")

        # distributed global rank (two-phase ranker vs single-pass window)
        from batch_process_spark.operators.ranking import global_ranks

        gc()
        t1, t2, sb = timed2(
            lambda: global_ranks(
                docs, [F.length("text"), F.col("doc_id")], sort_key_cols=["__len", "__id"]
            ).select("doc_id", "rank", "dense_rank", "row_number"),
            gc,
        )
        d = t_duck(
            con,
            f"SELECT doc_id, rank() OVER w AS rnk, dense_rank() OVER w AS drnk, "
            f"row_number() OVER w AS rn FROM ({scaled_docs_sql(n)}) "
            f"WINDOW w AS (ORDER BY length(text), doc_id)",
        )
        print(f"| global_rank | {n} | {n_rows} | {t1:.2f} | {t2:.2f} | {d:.2f} | {min(t1, t2)/d:.1f}x | {fmt_shuffle(sb, n_rows)} |")

        # bigram-LM scoring (q102 shape): one corpus-sized count
        # shuffle (g2), context counts derived from g2, co-partitioned
        # scoring join — the heaviest round-4 curation kernel. Gram
        # generation via the Arrow kernel + plan-keyed persist, exactly
        # as q102 runs it (run 1 pays the memo fill, run 2 reads it).
        from batch_process_spark.operators.text import (
            distinct_tokens_frame,
            ngram_frame,
        )
        from batch_process_spark.operators.caching import memoized_persist

        def bigram_lm():
            vocab = distinct_tokens_frame(docs, "text").agg(
                F.countDistinct("t").alias("vocab")
            )
            grams = memoized_persist(ngram_frame(docs, ["doc_id"], "text", 2))
            g2 = grams.groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
            w1 = F.split(F.col("g"), " ").getItem(0)
            g1 = g2.select(w1.alias("w1"), "c2").groupBy("w1").agg(
                F.sum("c2").alias("c1")
            )
            scored = (
                grams.join(g2, "g")
                .join(g1, w1 == g1["w1"])
                .crossJoin(F.broadcast(vocab))
                .groupBy("doc_id")
                .agg(F.avg(F.log((F.col("c1") + F.col("vocab")) / (F.col("c2") + 1))).alias("nll"))
            )
            return scored.groupBy((F.col("doc_id") % 20).alias("grp")).agg(
                F.count(F.lit(1)).alias("n_docs"), F.avg("nll").alias("avg_nll")
            )

        gc()
        t1, t2, sb = timed2(bigram_lm, gc)
        from batch_process_spark.queries_ext import DUCK_TOKENS
        from batch_process_spark.queries_ext5 import _DUCK_BIGRAMS

        tok = DUCK_TOKENS.format(t="text")
        d = t_duck(
            con,
            f"""WITH toks AS (SELECT doc_id, {tok} AS w FROM ({scaled_docs_sql(n)})),
            v AS (SELECT count(DISTINCT t) AS vocab FROM (SELECT unnest(w) AS t FROM toks)),
            grams AS (SELECT doc_id, unnest({_DUCK_BIGRAMS}) AS g FROM toks WHERE len(w) >= 2),
            g2 AS (SELECT g, count(*) AS c2 FROM grams GROUP BY g),
            g1 AS (SELECT split_part(g, ' ', 1) AS w1, sum(c2) AS c1 FROM g2 GROUP BY 1),
            scored AS (
              SELECT grams.doc_id, avg(ln((g1.c1 + v.vocab) * 1.0 / (g2.c2 + 1))) AS nll
              FROM grams JOIN g2 USING (g)
              JOIN g1 ON split_part(grams.g, ' ', 1) = g1.w1
              CROSS JOIN v GROUP BY 1)
            SELECT doc_id % 20 AS grp, count(*) AS n_docs, avg(nll) AS avg_nll
            FROM scored GROUP BY 1""",
        )
        print(f"| bigram_lm | {n} | {n_rows} | {t1:.2f} | {t2:.2f} | {d:.2f} | {min(t1, t2)/d:.1f}x | {fmt_shuffle(sb, n_rows)} |")
        # release the memo with the input it derives from — the
        # persisted gram frames are corpus-sized and must not squat in
        # executor storage while later sections are being timed
        from batch_process_spark.operators.caching import release_all

        release_all()
        docs.unpersist()

        # embedding top-k
        emb = scaled_emb_spark(spark, sf_dir, n)
        e_rows = emb.count()
        queries = (
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .filter(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("query_id"), "embedding")
        )
        gc()
        t1, t2, sb = timed2(lambda: similarity.brute_force_topk(emb, queries, k=10), gc)
        dot = _DOT.format(a="e.embedding", b="q.qe")
        na = _DOT.format(a="e.embedding", b="e.embedding")
        nq = _DOT.format(a="q.qe", b="q.qe")
        d = t_duck(
            con,
            f"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                           FROM read_parquet('{sf_dir}/embeddings.parquet') WHERE vec_id < 5),
            scored AS (SELECT q.query_id, e.vec_id,
                              round({dot} / (sqrt({na}) * sqrt({nq})), 6) AS score
                       FROM ({scaled_emb_sql(sf_dir, n)}) e CROSS JOIN q)
            SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rank
                           FROM scored) WHERE rank <= 10""",
        )
        print(f"| embed_topk | {n} | {e_rows} | {t1:.2f} | {t2:.2f} | {d:.2f} | {min(t1, t2)/d:.1f}x | {fmt_shuffle(sb, e_rows)} |")

        # IVF — the ANN scale path brute force is the baseline for:
        # KMeans index build (one-time, amortized over every query
        # thereafter), probed query latency, and recall@10 vs the exact
        # brute-force result (an approximate method that doesn't report
        # recall is reporting nothing).
        from batch_process_spark.operators.similarity import ivf_index, ivf_topk

        gc()
        tb0 = time.time()
        assigned, cents = ivf_index(emb, n_centroids=16)
        assigned = assigned.cache()
        assigned.count()
        t_build = time.time() - tb0
        t1 = t_spark(lambda: ivf_topk(assigned, cents, queries, k=10, nprobe=4))
        gc()
        t2 = t_spark(lambda: ivf_topk(assigned, cents, queries, k=10, nprobe=4))
        exact = {(r[0], r[1]) for r in similarity.brute_force_topk(emb, queries, k=10).collect()}
        approx = {(r[0], r[1]) for r in ivf_topk(assigned, cents, queries, k=10, nprobe=4).collect()}
        recall = len(exact & approx) / max(len(exact), 1)
        assigned.unpersist()
        print(
            f"| ivf_topk nprobe=4/16 | {n} | {e_rows} | {t_build:.2f} (index) + {t1:.2f} | {t2:.2f} "
            f"| — | recall@10={recall:.2f} | — | — |"
        )

    spark.stop()


if __name__ == "__main__":
    main()
