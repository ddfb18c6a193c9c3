"""Regenerate the GENERATED PREFIX of PLANS.md: formatted physical
plans of the headline queries with a one-line scale note each — the
`.explain("formatted")` audit trail reviewers would otherwise have to
reproduce by hand.

NOTE: PLANS.md is this script's output PLUS hand-appended per-round
audit sections (everything after the last NOTES entry) — streaming
queries in particular cannot be explain()'d by calling them (they RUN
micro-batches and return the memory-sink result; their per-batch plan
shape is summarized by hand). Do NOT `> PLANS.md` wholesale; regen the
prefix and keep the appended sections, or add the new query to NOTES
when its plan is a plain batch plan.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

NOTES = {
    "q01_pricing_summary": "shipdate filter pushed to the scan; partial agg below the single exchange",
    "q06_label_enrich_join": "dimension broadcast — the fact side never shuffles",
    "q09_topk_orders": "TakeOrderedAndProject: per-partition heaps, no global sort",
    "q18_minhash_lsh_neardup": "shuffle carries (id, 16 minhash longs) — shingles stay inside the Arrow stage and the persisted frame",
    "q25_embedding_topk": "corpus scanned once through the Arrow BLAS kernel; only partitions x Q x k candidate rows shuffle",
    "q29_shipping_priority": "segment semi-join folded to an InSet filter on orders; the orders' broadcast is stats-GATED (gated_broadcast) — below the cap lineitem probes map-only, past it (real-scale orders) the join re-plans to shuffle-hash on l_orderkey (forced-cap shape locked in test_plans.py)",
    "q30_local_supplier_volume": "two stats-GATED broadcast build sides (orders><customer composite pre-joined shuffle-hash inside the build; ASIA suppliers carrying the folded 5-entry nation map literal) — lineitem never shuffles below the cap; past it the fallback is shuffle-hash on l_orderkey with only the supplier dim broadcast (plan-guarded)",
    "q31_revenue_forecast": "all three predicates in PushedFilters; ReadSchema pruned to 4 columns",
    "q63_volume_shipping": "4+ broadcast dims; disjunctive nation pair as a post-join filter",
    "q67_disjunctive_revenue": "3-way disjunction stays one scan + one join (no union of branches)",
    "q68_waiting_suppliers": "EXISTS/NOT EXISTS as hash semi/anti joins — the non-equi residual rides the orderkey equi-join",
    "q73_curation_pipeline": "quality/langid map-side; the only wide stages are the dedup hash shuffle and the tiny final agg",
    "q75_interval_join": "range predicate rewritten to a bucketed hash equi-join (naive form is a nested loop)",
    "q80_salted_join": "skew-safe (key, salt) equi-join; salt invisible in the aggregate",
    "q84_rank_family": "two-phase distributed rank: range exchange + Arrow local-rank kernel + broadcast offsets — no unpartitioned WindowExec",
    "q93_decontamination": "eval-gram set broadcast; corpus grams map-only into the broadcast join — no shuffle ever carries corpus grams",
    "q94_repetition_quality": "pure array expressions per row; the only exchange is the final per-source aggregate",
    "q95_centroid_outliers": "centroids (labels x dims) broadcast back; cosine via zip_with/aggregate on the array — the corpus is never re-exploded",
    "q96_tfidf_keywords": "tf persisted once (two-pass IDF); df joined at token granularity, not a hot-token window; final window doc-partitioned",
    "q97_semantic_dedup": "bucketed pairs -> component resolution -> survivor election; equi-joins at vector granularity, never all-pairs",
    "q98_word_entropy": "entropy as pure array expressions — map-only until the per-source aggregate exchange",
    "q101_mixture_rebalance": "4-row derived rate table broadcast back to the corpus; both passes map-only to tiny aggs — no corpus-sized shuffle",
    "q102_bigram_lm_score": "distributed bigram/context count tables (no broadcast assumption); scoring join co-partitioned on the count keys",
    "q103_kmeans": "centroid joins carry NO hint - AQE broadcasts them at runtime while k fits (guarded in test_plans.py) and would shuffle for huge k; argmin window partitioned by vec_id",
    "q104_funnel": "four type-filtered stages all shuffling on user_id — co-partitioned joins after the first exchange; single-row final aggregates",
    "q107_hourly_anomaly": "one exchange over the raw stream (hour rollup); per-type stats broadcast back; z and flags map-side over aggregated rows",
    "q110_price_histogram": "1-row min/max aggregate broadcast back over the scan; both passes map-side until the 20-group agg",
    "q111_dsir_importance": "<=1024-row weight table broadcast; the exploded-token side shuffles once (per-doc agg with partials); top-50 is TakeOrderedAndProject",
    "q112_passage_dedup": "blocks assembled inside the row (filter/slice/array_join) — no token explode or reassembly shuffle; only the passage-hash agg is wide",
    "q113_skyline_parts": "bucketed prefix-max skyline: the data-sized window hash-partitions on bkt; the only unpartitioned window is the 32-row bucket table",
    "q117_prefix_filter_join": "prefix tokens only into the candidate self-join; verification is map-side array_intersect on broadcast doc arrays — no second token-granularity join",
    "q121_last_touch_attribution": "one window exchange on user_id serves the microsecond RANGE frame; the aggregate after the purchase filter is 6 groups with partials",
    "q127_hll_distinct": "one grouping-sets pass builds per-type AND merged-union registers (partial max below the expand exchange) — 100 TB reduces to types x 256 register rows; the exact-distinct side is validation-only",
    "q128_cms_heavy_hitters": "counters built from the REDUCED (token, count) table — the depth-explode never touches raw occurrences; the 768-row counter table broadcasts at probe time",
    "q129_bloom_semi_join": "the bit set rides as ONE broadcast row (sorted array); the probe side is map-only — zero shuffle, zero explode of the event stream (explicit runtime-filter shape)",
    "q130_fuzzy_name_join": "value column deduped to a 64-name dictionary first; lossless length-band blocking replicates only the tiny side x3 — no O(n^2) similarity join, counts map back via the dictionary",
    "q132_hll_set_algebra": "pairwise set algebra entirely on register tables: per-type registers computed once, routed through a broadcast membership table; the corpus is scanned only for registers and the validation-only exact column",
    "q133_kmv_intersection": "two PARTITIONED windows (per-type top-k, per-pair merge rank) over <=k-row sketches — no unpartitioned window, no data-level pair join; the distinct-hash shuffle is the only corpus-sized stage",
    "q135_ddsketch_quantiles": "bucket counts partial-agg to <=64x16 rows per group; the quantile readout windows walk THAT table, never the data — the per-group sort exact percentiles need no longer exists",
    "q136_table_profile": "ONE scan: stack unpivot is a map-side Generate; null counts and every column's HLL registers ride the same shuffle granularity (columns x 256 rows) — no per-column scan, no per-column distinct shuffle except the validation column",
    "q137_gap_fill_daily": "events scanned ONCE into the persisted daily rollup; the spine min/max and the fill join read that materialized frame (the spine itself is sequence()-generated, never scanned)",
    "q138_calendar_rollup": "three grains from one scan: the grouping-sets expand triples rows map-side but partial agg collapses them to <= distinct-buckets fragments before the single exchange",
    "q139_pagerank_trade": "Pregel-as-join: the edge build is the q63-style all-broadcast star join; each of the 3 iterations broadcasts only the 25-row rank vector back across the edges — per-iteration shuffle is rank-vector-sized at any graph size",
    "q141_image_header_meta": "two chained Arrow map-only kernels (PNG synth -> header parse): no join, no exchange, nothing but the scan — the multimodal decode shape at any corpus size",
    "q142_quality_checks": "intake gate: four rule aggregates in ONE scan (stack unpivot is map-side over the 1-row agg); the FK check's anti-join probes a size-gated broadcast of parent keys",
    "q143_drift_psi": "two-window histograms from one conditional-agg scan; totals broadcast back over the <=10-row bucket table — no corpus-sized stage after the rollup",
    "q145_incremental_rollup": "IVM refresh: history aggregated once, each delta aggregated alone and key-merged with standing partials — three narrow scans, no re-aggregation of raw history",
    "q146_bottomk_sample": "per-group window on the hash order: one hash-partitioned exchange, row_number + filter — no global sort, no rand()",
    "q147_late_returns_by_priority": "Q12 shape: pushed fact filter; the non-equi shipdate>=orderdate residual rides the gated orders equi-join (no nested loop); conditional counts collapse map-side",
    "q148_dominant_part_suppliers": "Q20 shape: lineitem reduced to the (part,supp) rollup once; threshold join runs at rollup granularity; supplier probes a semi join of the dictionary-sized qualifying keys",
    "q149_triangle_count": "edge-iterator triangles: all equi-joins at edge granularity (wedge join + left-semi closure over the persisted edge set); no adjacency matrix, no driver state",
    "q151_bfs_hops": "frontier BFS, 4 unrolled supersteps: each round is frontier-join-edges (persisted, partitioned once) + anti-join vs visited — only the frontier ships per round, rounds never recompute",
    "q152_bm25_search": "corpus stage map-only: tf/dl as array expressions inside codegen (no token explode); 3-row df table and 1-row stats broadcast back; top-20 is TakeOrderedAndProject",
    "q154_scd2_asof": "one user_id exchange serves the first/rest split, the SCD2 chain window, and the as-of probe filter (map-side); history assembly is unions of co-partitioned frames",
    "q155_interpolate_daily": "events scanned once into the persisted daily rollup (as q137); fences via user-partitioned monotone windows; interpolation is exact integer arithmetic, map-side",
    "q156_snapshot_diff": "ONE co-partitioned full-outer join on the key classifies all four change types; compares are map-side null-safe expressions; the per-class rollup is 4 groups",
    "q157_cross_source_leakage": "blocking-key equi-join on the 16-token prefix fingerprint — never all-pairs; pair enumeration bounded by duplicate-cluster size; 2-column rollup after",
    "q158_cumulative_uniques": "first-touch rewrite: the only corpus-sized stage is the user-keyed min; the running-sum window runs over the days-sized rollup, never over events",
    "q159_vector_quantize": "zero shuffles: quantization, norms, and the code md5 are all map-side array expressions — scan -> project, nothing else at any corpus size",
    "q140_entity_resolution": "the part table is scanned once into the PERSISTED name dictionary (pair probe, pair build, and the re-key join all read the materialized frame); fuzzy pairing, component resolution, and canonical election all run at dictionary granularity (64 rows)",
    "q202_source_ngram_overlap": "source-pair comparison joins on the GRAM over a distinct (source, gram) frame — fan-out bounded by source cardinality per gram, never doc x doc; per-source set sizes ride two tiny broadcasts",
    "q204_ngram_novelty_curve": "every gram reduces to its first doc via one partial-agg min at gram granularity; the unpartitioned window only ever sees the 10 decile rows (bounded by construction)",
    "q205_product_quantization": "PQ train+encode: (vec_id, sub) partial aggs against a codebook frame AQE broadcasts while small (no forced hint — huge m*k degrades to shuffle join instead of OOM); per-vector md5 over sub-ordered codes; production path is the map-only fused Arrow kernel (BASELINE §5r: 0 B/vec)",
    "q206_pq_adc_topk": "ADC search: queries x m x k LUT built by one tiny agg and broadcast into the codes join; corpus side partial-aggs to one 8-byte (query, vec) sum before the exchange; ranking on the rounded distance",
    "q207_sliding_span_dedup": "spans assemble ONCE in a fused Arrow kernel (mapInPandas, byte-identical md5 keys; 2x the codegen slice+join assembly), repartition on h, (h,doc_id) pre-agg exchange-free, distinct-doc count as a COUNT WINDOW over h — no self-join (Catalyst planned no ReusedExchange across the old stats join, so assembly ran twice)",
    "q208_packing_efficiency": "one grouped agg over the per-shard-parallel packing window (q77's shape); no global window",
    "q209_embedding_drift": "position-explode into a (label, pos) conditional-avg partial agg (exchange carries labels x dims rows), then a labels-sized reduce; snapshot counts ride a second labels-sized agg joined back",
    "q210_mmr_diversified": "rerank stage: every frame bounded by queries x pool (pairwise sim = pool^2 per query); corpus touched only by the pool-building scoring pass (ANN tier at scale); three fixed argmax windows, each k rows per query group",
    "q211_lsh_candidate_audit": "q18's stages verbatim (memoized shingle frame, map-only signatures, banded join as the only wide stage) + decile partial agg + 1-row total broadcast",
    "q212_hard_negatives": "label predicate rides the broadcast-query scoring pass (no post-hoc join); per-partition top-k merge; the scoring tier is ANN (IVFPQ) at corpus scale",
    "q213_triplet_mining": "two label-filtered scoring passes over the broadcast anchor batch; positives><negatives join keyed on the anchor, bounded at anchors x 3 rows",
    "q215_binary_quantize": "pure map-side array expressions in codegen: scan -> project (two packed words per vector) — the q159 shape at 1 bit/dim",
    "q216_hamming_topk": "queries broadcast; corpus scans its 8 B/vector words map-side (two XOR+popcount per candidate); only partitions x Q x k rows reach the merge",
    "q217_retrieval_eval": "three bounded top-10 frames per query (exact / hamming / ADC) joined on (query, vec); final aggregate is tiers-sized",
    "q218_retrieval_cascade": "tier 1 map-side 8 B/vector Hamming scan; tier 2 ADC restricted to the 50 survivors per query; tier 3 the shared exact-rerank id-join on 20",
    "q219_span_attribution": "distinct (doc, span) first; boilerplate spans excluded by df cap BEFORE the pair join (a span in f docs fans out f^2 rows); argmax partner via per-doc window",
    "q220_dedup_savings": "q79's pair stream + components verbatim; one node-sized length join + two small aggregates",
    "q221_tokenizer_fertility": "map-side length + token count per doc into a slice-sized partial agg",
    "q222_quality_dup_calibration": "map-side unrounded quality score joined to q207's per-doc span frame; the aggregate is 5 quintile buckets",
    "q223_join_fanout_audit": "two key-grained partial aggs + a key-sized full outer join — the forecast costs key cardinality, never the output cardinality it predicts",
    "q224_ingest_dedup_delta": "r11 single-pass shape: ONE text scan computing the 16-byte hash, ONE exchange of (hash, n_batch, in_corpus) conditional partials, single-row unpivot — no distinct, no joins (the old corpus/batch branches scanned+hashed text twice); r12: NULL-hash docs filtered (isnotnull pushed into the scan) to mirror the oracle's null-unsafe inner join; plan-pinned one-scan/one-exchange in test_plans.py",
    "q225_embedding_health": "position-explode into per-vector norm partials, then a (label, pos) mean agg (labels x dims exchange rows, the q209 shape) and a labels-sized reduce",
    "q226_effective_tokens": "one content-hash partial agg + a hash-keyed join; tokens counted map-side — the mixture planner's budget costs one pass",
    "q227_pii_incidence": "map-side regex booleans (RE2/Java-portable q59 patterns) into a source-sized agg",
    "q228_lsh_tuning_curve": "pure arithmetic over q19's bounded blocked-pair sample (never quadratic); three 1-row aggregates unioned",
    "q229_zipf_slope": "token explode into a (source, term) partial agg; the top-200 window runs over the COUNTED vocab frame with a WindowGroupLimit heap (plan-guarded) — never sorts raw tokens",
    "q230_dedup_threshold_curve": "q207's span stats, then a 10-row histogram + suffix-sum window — no per-threshold rescan",
    "q231_context_budget_pack": "q25's bounded candidate frame joins token counts; running sum hash-partitions on query_id (plan-guarded)",
    "q232_matryoshka_eval": "three brute-force Arrow scans over SLICED embeddings (same column, free projection); recall join over queries x k row sets",
    "q233_license_propagation": "q79's clustering + a node-sized tier join + two tiny aggregates (clusters, then the <=9-row transition matrix)",
    "q234_epoch_mixture_plan": "q226's hash partial-agg + hash join; 1-row total broadcast back over the 20-row source frame (plan-guarded)",
    "q235_label_confusion": "labels x dims centroid partial-agg broadcast back; all-label cosine scored in-row (zip_with) with the argmax reduced before any shuffle; L^2-row confusion agg",
    "q236_lsh_blocking_eval": "fixed 300-row audit sample: bucket equi-join candidates + the O(sample^2) exact referee, both reduced to counts in-stage; 1-row output",
    "q237_soft_dedup_weights": "q79's clustering + a corpus-granular left join (cluster frame is pairs-sized) + a sources-sized agg",
    "q238_crosslingual_neardup": "q26's bucket-blocked verified pairs + two id-equi lang joins + a langs^2-row agg",
    "q239_survivor_quality_pick": "q79's clustering + a node-sized score join; per-component argmax as max(struct(score,-id)) — no data-scale window; 1-row output",
    "q240_span_novelty_curve": "r11: reads the memoized h-partitioned span frame (_span_occ, kernel once per session); exchange-free distinct -> MIN window over h; deciles off a broadcast 1-row min/max — no global NTILE sort",
    "q241_oov_rate": "one token explode feeds the term-count agg; top-K cut is TakeOrderedAndProject (per-partition heaps); the K-row vocab broadcasts back over the token stream",
    "q242_dup_by_length": "q207's doc-grained frame (riding the _span_occ memo — kernel once, both min/max branches read cache) joined to a length projection; range-decile buckets off a broadcast 1-row min/max; 10-row agg",
    "q243_dim_variance": "one posexplode into a (pos)-keyed partial agg (dims rows out of any corpus); 1-row summary",
    "q244_anisotropy": "one posexplode feeding two tiny aggs (dims-row centroid, 1-row norm means); nothing corpus-sized shuffles",
    "q245_hubness_audit": "all-pairs referee bounded to the fixed sample (q236 discipline); per-query top-k window over sample-sized rows",
    "q246_source_token_jsd": "token explode -> (source, term) partial-agg counts; corpus marginal joins at term grain; missing vocabulary folded in closed form (no anti-join)",
    "q247_span_containment": "r11: memoized span frame (was FIVE kernel runs, now one + InMemoryTableScans) -> exchange-free distinct -> df-capped pair join (build side one row/hash); per-doc totals join at pair grain; asymmetric fraction filter",
}


def main() -> None:
    from batch_process_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("dump_plans")
    qs = entrymod.queries()
    print("# PLANS — formatted physical plans of the headline queries")
    print()
    print(f"Auto-generated by `python scripts/dump_plans.py` at {SF} "
          "(plan SHAPE is sf-independent; AQE may re-plan exchanges at runtime).")
    for name, note in NOTES.items():
        df = qs[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        tree = buf.getvalue().split("\n\n")[0]
        lines = tree.split("\n")
        if len(lines) > 150:
            # iterative queries re-print each persisted InMemoryRelation
            # subtree at every reference; the shape is fully visible in
            # the first screens — keep the audit readable
            tree = "\n".join(lines[:150]) + (
                f"\n... ({len(lines) - 150} more lines: unrolled rounds "
                "repeat the persisted subtrees above)"
            )
        print(f"\n## {name}\n\n{note}\n\n```\n{tree}\n```")
    spark.stop()


if __name__ == "__main__":
    main()
