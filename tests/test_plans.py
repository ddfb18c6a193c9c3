"""Catalyst plan assertions — regression guards for the scale
properties the engine promises (pushdown, pruning, broadcast, no
fact-side shuffles). These read `.explain("formatted")` output, the
same check a human does after adding an operator."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from batch_process_spark.operators import joins

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def qs():
    return entrymod.queries()


def test_q31_filters_pushed_to_scan(spark, qs):
    plan = plan_of(qs["q31_revenue_forecast"](spark, SF))
    assert "PushedFilters:" in plan
    # the shipdate/discount/quantity predicates reach the parquet reader
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "LessThan(l_quantity" in plan


def test_q31_column_pruning(spark, qs):
    plan = plan_of(qs["q31_revenue_forecast"](spark, SF))
    # only the 4 needed columns are read, not all 11
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read and "l_discount" in read
    assert "l_partkey" not in read and "l_returnflag" not in read


def test_q30_star_join_two_broadcasts(spark, qs):
    """Restructured Q5 BELOW the broadcast gate (bench scale): lineitem
    probes exactly TWO broadcast build sides (orders><customer
    composite, ASIA suppliers) — each broadcast materialization is a
    whole job per run, and the naive tree pays 5. nation><region folded
    to a constant map; orders><customer pre-joins INSIDE the build side
    as a shuffle-hash join (never a nested broadcast, never
    SortMergeJoin). The composite broadcast is stats-GATED — the
    over-cap fallback shape is locked by
    test_broadcast_gate_falls_back_to_shuffle below."""
    plan = plan_of(qs["q30_local_supplier_volume"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastExchange") == 2
    assert tree.count("BroadcastHashJoin") == 2
    assert tree.count("ShuffledHashJoin") == 1  # oc composite, inside the build
    assert "SortMergeJoin" not in plan
    # lineitem itself never shuffles: its column never appears in an
    # Exchange hashpartitioning other than the final n_name agg
    assert "hashpartitioning(l_" not in plan


def test_broadcast_gate_falls_back_to_shuffle(spark, qs, monkeypatch):
    """The q29/q30 fact-derived build sides are broadcast ONLY below a
    plan-stats size gate (gated_broadcast). Forcing the cap to 1 byte
    simulates real-scale orders: both queries must re-plan to a
    shuffle-hash equi-join on l_orderkey with NO fact-derived
    broadcast — and since round 7 q30's ASIA-supplier side (SF-scaling
    too) shuffles as well. This is the 100 TB shape; an unconditional
    F.broadcast(orders-derived) would OOM the executors there.
    The gate is read at plan-CONSTRUCTION time, so the session plan
    cache must be invalidated around the cap change (same contract as
    any underlying-table change)."""
    from batch_process_spark.queries import invalidate_tables

    monkeypatch.setattr(joins, "BROADCAST_CAP_BYTES", 1)
    invalidate_tables()
    try:
        p29 = plan_of(qs["q29_shipping_priority"](spark, SF))
        t29 = p29.split("\n\n")[0]
        assert "ShuffledHashJoin" in t29
        assert "BroadcastExchange" not in t29  # nothing fact-derived broadcast
        assert "SortMergeJoin" not in p29
        p30 = plan_of(qs["q30_local_supplier_volume"](spark, SF))
        t30 = p30.split("\n\n")[0]
        # oc internal + lineitem><oc + lineitem><supp2: since round 7
        # the ASIA-supplier side is ALSO gated (supplier scales with
        # SF), so under the forced cap NOTHING broadcasts.
        assert t30.count("ShuffledHashJoin") == 3
        assert t30.count("BroadcastExchange") == 0
        assert "SortMergeJoin" not in p30
    finally:
        # plans built under the forced cap must not leak to later tests
        monkeypatch.undo()
        invalidate_tables()


def test_gated_broadcast_helper_shapes(spark):
    """Unit shape: below cap -> BroadcastHashJoin; above cap ->
    ShuffledHashJoin. gate_on inputs stand in for join outputs whose
    size-only estimate multiplies children."""
    from batch_process_spark.operators.joins import gated_broadcast

    a = spark.range(1000).withColumnRenamed("id", "k")
    b = spark.range(100).withColumnRenamed("id", "k")
    small = plan_of(a.join(gated_broadcast(b, cap_bytes=1 << 30), "k"))
    big = plan_of(a.join(gated_broadcast(b, cap_bytes=1), "k"))
    assert "BroadcastHashJoin" in small.split("\n\n")[0]
    t = big.split("\n\n")[0]
    assert "ShuffledHashJoin" in t and "BroadcastExchange" not in t


def test_q06_enrichment_folds_to_map_literal(spark, qs):
    """Tiny-dim enrichment folds to a constant map lookup: no join node
    at all, one exchange (the final agg). The >fold_max_rows broadcast
    path is covered by test_filtering/test_merge enrich tests."""
    plan = plan_of(qs["q06_label_enrich_join"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree
    assert tree.count("Exchange") == 1
    assert "keys:" in plan  # the folded map literal


def test_enrich_labels_broadcast_path_unchanged(spark):
    """Past the fold bound (or with fold disabled) enrich_labels is the
    classic broadcast left join + coalesce — and both paths agree."""
    from batch_process_spark.operators.joins import enrich_labels

    facts = spark.createDataFrame([(i, i % 5) for i in range(40)], "id long, k long")
    dim = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, label string")
    folded = enrich_labels(facts, dim, on="k", label_col="label", default_value="?")
    joined = enrich_labels(
        facts, dim, on="k", label_col="label", default_value="?", fold_max_rows=0
    )
    assert "Join" not in plan_of(folded).split("\n\n")[0]
    assert "BroadcastHashJoin" in plan_of(joined)
    cols = ["id", "k", "label"]  # join reorders columns; compare aligned
    assert sorted(map(tuple, folded.select(cols).collect())) == sorted(
        map(tuple, joined.select(cols).collect())
    )


def test_q02_filter_compiles_to_single_scan_filter(spark, qs):
    plan = plan_of(qs["q02_filter_multi"](spark, SF))
    assert "PushedFilters:" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "In(l_linestatus" in plan


def test_q09_topk_uses_take_ordered(spark, qs):
    plan = plan_of(qs["q09_topk_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # per-partition heaps, no full sort


def test_ivf_probe_prunes_partitions(spark, tmp_path_factory):
    """ivf_write lays vectors out partitioned by centroid; a probe read
    must prune at the file listing (PartitionFilters), never full-scan."""
    from batch_process_spark.operators.similarity import ivf_read_probe, ivf_write

    vecs = spark.createDataFrame(
        [(i, [float(i), float(i % 3)], i % 4) for i in range(64)],
        "vec_id long, embedding array<double>, centroid_id int",
    )
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    ivf_write(vecs, path)

    probe = ivf_read_probe(spark, path, [1, 3])
    plan = plan_of(probe)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    # the isin lands on the partition column at the scan, pruning at the
    # file listing (inputFiles() can't verify this — it reports the
    # pre-pruning file index)
    assert "centroid_id" in pf and "IN (1,3)" in pf
    assert probe.count() == 32


def test_q68_semi_anti_are_hash_joins(spark, qs):
    """EXISTS/NOT EXISTS with a non-equi residual (suppkey !=) must ride
    the orderkey hash joins — a nested-loop or cartesian fallback would
    be quadratic in lineitems per order."""
    plan = plan_of(qs["q68_waiting_suppliers"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree


def test_q63_dims_broadcast(spark, qs):
    plan = plan_of(qs["q63_volume_shipping"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("BroadcastHashJoin") >= 4  # supp/cust/nation x2 at least
    assert "CartesianProduct" not in tree and "BroadcastNestedLoopJoin" not in tree


def test_q67_disjunction_single_scan(spark, qs):
    """The 3-way disjunction must stay one scan + one join — not a
    union of three scan/join branches."""
    plan = plan_of(qs["q67_disjunctive_revenue"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 2  # lineitem once, part once
    assert "Union" not in tree


def test_q75_interval_join_is_hash_not_nested_loop(spark, qs):
    """The bucketed range-join rewrite must produce a hash equi-join on
    the bucket — the naive range predicate compiles to
    BroadcastNestedLoopJoin, which is quadratic."""
    plan = plan_of(qs["q75_interval_join"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree
    assert "BroadcastHashJoin" in tree or "SortMergeJoin" in tree


def test_q18_minhash_pipeline_no_quadratic_join(spark, qs):
    """The LSH banded candidate join must be a hash equi-join on the
    band bucket — a cartesian/nested-loop fallback is the corpus^2
    disaster LSH exists to avoid."""
    plan = plan_of(qs["q18_minhash_lsh_neardup"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree
    assert "SortMergeJoin" in tree or "BroadcastHashJoin" in tree or "ShuffledHashJoin" in tree


def test_q25_topk_single_corpus_scan_and_group_limit(spark, qs):
    """brute_force_topk: the corpus parquet is scanned exactly once
    (queries ride driver-side into the kernel closure), and the global
    merge of per-partition top-ks is ONE hash aggregate (collect_list +
    array_sort/slice) — no window pass, no row Sort over candidates."""
    df = qs["q25_embedding_topk"](spark, SF)
    plan = plan_of(df)
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "HashAggregate" in tree  # per-query list merge, partial map-side
    assert "Window" not in tree and "Sort (" not in tree  # no global sort pass
    assert "CartesianProduct" not in tree and "BroadcastNestedLoopJoin" not in tree


def test_minhash_shuffle_is_narrow(spark):
    """The minhash signature shuffle must carry only (id, partial
    mins) — never shingle strings."""
    from batch_process_spark.operators.dedup import minhash_docs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    plan = plan_of(minhash_docs(docs, "doc_id", "text"))
    # map-side combine: partial_min aggregates run BEFORE the exchange,
    # so only (doc_id, 16 longs) per doc crosses the shuffle
    assert "partial_min" in plan
    assert "hashpartitioning(doc_id" in plan
    tree = plan.split("\n\n")[0]
    agg_idx = tree.index("HashAggregate")
    ex_idx = tree.index("Exchange")
    assert ex_idx < tree.rindex("HashAggregate")  # partial agg below exchange


def test_q84_q89_ranker_no_single_task_window(spark, qs):
    """The distributed ranker must never plan an unpartitioned
    WindowExec (the single-task scale-killer): a RANGE shuffle feeds
    the per-partition Arrow local-rank kernel, partition offsets join
    back by broadcast, and no Window node (or extra hash shuffle)
    appears anywhere."""
    for name in ("q84_rank_family", "q89_distributed_rank"):
        plan = plan_of(qs[name](spark, SF))
        tree = plan.split("\n\n")[0]
        assert "Window" not in plan, name  # no WindowExec / WindowGroupLimit
        assert "MapInPandas" in tree, name  # the local-rank Arrow kernel
        assert "rangepartitioning" in plan, name  # the one range shuffle
        assert "hashpartitioning" not in plan, name  # ...and no other shuffle
        assert "BroadcastExchange" in tree, name  # offsets ride a broadcast join


def test_q93_eval_grams_broadcast(spark, qs):
    """Decontamination must broadcast the (small) eval-gram set — the
    corpus-gram side must never be the build side of a shuffle join."""
    plan = plan_of(qs["q93_decontamination"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q94_single_exchange(spark, qs):
    """Repetition metrics are pure per-row array expressions: exactly
    one exchange (the final per-source aggregate), no joins, no
    windows, no Python stages."""
    plan = plan_of(qs["q94_repetition_quality"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "Join" not in plan and "Window" not in plan
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_q96_tf_cached_once_no_global_window(spark, qs):
    """TF-IDF must (a) compute tf once — both consumers read the same
    InMemoryRelation, one parquet scan of the corpus text — and (b)
    rank keywords under a doc-partitioned window only (an unpartitioned
    window or a count-over-token window would hot-spot at scale)."""
    plan = plan_of(qs["q96_tfidf_keywords"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert tree.count("InMemoryTableScan") == 2  # tf read twice, built once
    # every Window/Sort is doc_id-partitioned; no global (empty-key) window
    for line in plan.splitlines():
        if "Window [" in line:
            assert "doc_id" in line


def test_q103_centroid_joins_adaptively_broadcast(spark):
    """q103 deliberately carries NO broadcast hint (a hint is never
    demoted, so huge k would OOM); at small k AQE must still convert
    every centroid join to broadcast at runtime."""
    from batch_process_spark.queries import QUERIES
    import batch_process_spark.queries_ext6  # noqa: F401

    df = QUERIES["q103_kmeans"](spark, "/root/testdata/sf0.001")
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_swept_queries_gate_both_shapes(spark, qs, monkeypatch):
    """The round-6 gating sweep (every direct broadcast of an
    SF-scaling table routed through gated_broadcast) must preserve the
    bench-scale broadcast AND produce a shuffle fallback under a forced
    cap — spot-checked on the TPC-H Q14/Q10 shapes whose part/customer
    broadcasts were swept."""
    from batch_process_spark.queries import invalidate_tables

    for name in ("q47_promo_revenue", "q48_returned_revenue"):
        tree = plan_of(qs[name](spark, SF)).split("\n\n")[0]
        assert "BroadcastHashJoin" in tree, name  # below cap: broadcast kept
        assert "SortMergeJoin" not in tree, name
    monkeypatch.setattr(joins, "BROADCAST_CAP_BYTES", 1)
    invalidate_tables()
    try:
        # The gated (previously hint-forced) build side must now
        # shuffle. Remaining BroadcastExchanges are fine IF they are
        # size-BASED (planner-chosen from actual stats — they vanish at
        # real scale on their own): q47's only join is the gated part
        # side, so zero broadcasts; q48 keeps its 25-row nation dim
        # plus the planner's own auto-broadcast of tiny orders —
        # neither is a forced hint.
        t47 = plan_of(qs["q47_promo_revenue"](spark, SF)).split("\n\n")[0]
        assert "ShuffledHashJoin" in t47 and "BroadcastExchange" not in t47
        assert "SortMergeJoin" not in t47
        t48 = plan_of(qs["q48_returned_revenue"](spark, SF)).split("\n\n")[0]
        assert "ShuffledHashJoin" in t48  # the gated customer side shuffles
        assert "SortMergeJoin" not in t48
    finally:
        monkeypatch.undo()
        invalidate_tables()


def test_round7_gated_sites_both_shapes(spark, qs, monkeypatch):
    """Round-7 sweep residue: the four raw F.broadcast sites on
    SF-scaling frames named by the round-6 verdict (q66 excluded
    suppliers, q129 flagged users, q160 per-item counts, q117
    vocabulary ranks) are now stats-gated. Below the cap each keeps its
    broadcast (bench-scale win); under a forced 1-byte cap each
    re-plans to shuffle with zero HINT-forced BroadcastExchange.
    (q30's supp2 is covered by test_broadcast_gate_falls_back_to_
    shuffle above.)"""
    from batch_process_spark.queries import invalidate_tables

    names = (
        "q66_supplier_part_counts",
        "q129_bloom_semi_join",
        "q160_association_rules",
        "q117_prefix_filter_join",
    )
    for name in names:
        tree = plan_of(qs[name](spark, SF)).split("\n\n")[0]
        assert "BroadcastExchange" in tree, name  # below cap: broadcast kept
        assert "SortMergeJoin" not in tree, name
    monkeypatch.setattr(joins, "BROADCAST_CAP_BYTES", 1)
    invalidate_tables()
    try:
        # q66: the anti-join build side must shuffle; the part dim is
        # gated too, so nothing broadcasts at all.
        t66 = plan_of(qs["q66_supplier_part_counts"](spark, SF)).split("\n\n")[0]
        assert "ShuffledHashJoin" in t66 and "BroadcastExchange" not in t66
        assert "SortMergeJoin" not in t66
        # q129: the exact-validation semi-join shuffles. The Bloom bit
        # set (<= m positions, schema-bounded) legitimately stays a
        # 1-row broadcast — that IS the scale design.
        t129 = plan_of(qs["q129_bloom_semi_join"](spark, SF)).split("\n\n")[0]
        assert "ShuffledHashJoin" in t129
        assert "SortMergeJoin" not in t129
        # q160: both per-item count joins shuffle; only the 1-row
        # basket-count crossJoin remains broadcast.
        t160 = plan_of(qs["q160_association_rules"](spark, SF)).split("\n\n")[0]
        assert t160.count("ShuffledHashJoin") >= 2
        assert "SortMergeJoin" not in t160
        # q117: the vocabulary rank join shuffles on tok.
        t117 = plan_of(qs["q117_prefix_filter_join"](spark, SF)).split("\n\n")[0]
        assert "ShuffledHashJoin" in t117
        assert "SortMergeJoin" not in t117
    finally:
        monkeypatch.undo()
        invalidate_tables()


def test_q117_enumeration_width_pinned_and_length_filtered(spark, qs):
    """r13 catalog-sweep fix, plan-pinned: q117's candidate self-join
    fans out quadratically per token from a few-KB input, so AQE
    (byte-based coalescing) collapsed enumerate+distinct+verify into
    ONE task (measured 90-126 s single-task at sf0.1; 2.7 s after).
    The plan must carry BOTH explicit-width exchanges — the
    (doc_id, tok) repartition that pins the enumeration width and the
    (doc_i, doc_j) repartition the distinct+verify ride — and the
    join condition must include the lossless PPJoin length filter
    (least(n)*den >= greatest(n)*num) so size-incompatible pairs die
    inside the probe, before the array-carrying verify."""
    tree = plan_of(qs["q117_prefix_filter_join"](spark, SF))
    # an already-executed AdaptiveSparkPlan prints Final + Initial
    # plans (each exchange twice); both states must carry exactly the
    # two pinned exchanges
    n_pins = tree.count("REPARTITION_BY_NUM")
    executed = "== Initial Plan ==" in tree
    assert n_pins == (4 if executed else 2), (n_pins, executed)
    assert "hashpartitioning(doc_id" in tree
    assert "hashpartitioning(doc_i" in tree
    # the length filter lives in the join condition (least/greatest
    # over the two size columns, integer-exact)
    assert "least(" in tree and "greatest(" in tree


def test_q161_grid_join_is_hash_not_nested_loop(spark, qs):
    """The grid-bucketed radius join must compile to a hash equi-join
    on the cell id — the raw distance predicate has no equi-key and
    would fall back to BroadcastNestedLoopJoin (all-pairs). Also pins
    column pruning: only c_custkey reaches either customer scan."""
    plan = plan_of(qs["q161_grid_radius_join"](spark, SF))
    tree = plan.split("\n\n")[0]
    assert "BroadcastNestedLoopJoin" not in tree
    assert "CartesianProduct" not in tree
    assert "BroadcastHashJoin" in tree or "SortMergeJoin" in tree or "ShuffledHashJoin" in tree
    assert "struct<c_custkey:bigint>" in plan


def test_inline_local_shapes_and_values(spark):
    """inline_local: below caps -> a LocalRelation copy whose broadcast
    join build is flat (LocalTableScan in the plan, values identical to
    the source); above the row cap or stats cap -> None (caller keeps
    the distributed frame — the 100 TB path)."""
    from batch_process_spark.operators.joins import inline_local

    src = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    local = inline_local(src)
    assert local is not None
    assert "LocalRelation" in local._jdf.queryExecution().optimizedPlan().toString()
    assert sorted((r.k, r.v) for r in local.collect()) == sorted(
        (r.k, r.v) for r in src.collect()
    ), "inlined copy must hold exactly the source rows"
    # the broadcast join over the inlined copy plans a LocalTableScan build
    probe = spark.range(50).withColumnRenamed("id", "k")
    plan = plan_of(probe.join(F.broadcast(local), "k"))
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree and "LocalTableScan" in tree

    assert inline_local(src, max_rows=99) is None, "row cap must refuse"
    assert inline_local(src, cap_bytes=1) is None, "stats cap must refuse"
    # gate_on stands in for a join's multiplied size estimate
    joined = src.join(src.withColumnRenamed("v", "v2"), "k")
    assert inline_local(joined, src, src) is not None
    assert inline_local(joined, src, src, cap_bytes=1) is None


def test_inline_local_type_roundtrip(spark):
    """Timestamps, decimals and string arrays must survive the
    collect -> pandas -> LocalRelation round trip bit-exactly (the
    arrow path; q29 inlines a timestamp column, q18 probed arrays)."""
    from batch_process_spark.operators.joins import inline_local

    src = spark.sql(
        """
        SELECT * FROM VALUES
          (1L, TIMESTAMP'1995-03-14 23:59:59', CAST(1.2345 AS DECIMAL(10,4)), array('a','b')),
          (2L, TIMESTAMP'2001-01-01 00:00:00', CAST(-7.0001 AS DECIMAL(10,4)), array()),
          (3L, CAST(NULL AS TIMESTAMP), CAST(NULL AS DECIMAL(10,4)), CAST(NULL AS ARRAY<STRING>))
        AS t(k, ts, d, arr)
        """
    )
    local = inline_local(src)
    assert local is not None
    assert local.schema == src.schema
    got = {r.k: (r.ts, r.d, r.arr) for r in local.collect()}
    want = {r.k: (r.ts, r.d, r.arr) for r in src.collect()}
    assert got == want


def test_q206_adc_lut_broadcast_no_cartesian(spark, qs):
    """The PQ ADC search joins the codes frame to the query LUT via a
    BROADCAST (the LUT is queries x m x k, corpus-independent); the
    corpus side must never enter a cartesian product."""
    plan = plan_of(qs["q206_pq_adc_topk"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q207_single_span_assembly_no_join(spark, qs):
    """The sliding-span audit assembles spans EXACTLY ONCE (round-10
    restructure): one Arrow span kernel (MapInPandas — measured 2x the
    codegen slice+join+md5 assembly), then the distinct-doc count per
    span is a window over the h-repartitioned (h, doc_id) pre-agg, not
    a stats self-join — the old join shape recomputed the span
    assembly per branch because Catalyst planned no ReusedExchange
    across the self-join. No join operators at all."""
    plan = plan_of(qs["q207_sliding_span_dedup"](spark, SF))
    # formatted output lists each node once in the tree and once in the
    # details section — assert on the numbered tree entries
    tree_nodes = [l.split(")", 1)[1].strip() for l in plan.splitlines()
                  if l.strip().startswith("(")]
    assert tree_nodes.count("MapInPandas") == 1
    assert not any("Join" in n for n in tree_nodes)
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def _projects_mixing_replace_and_count(df) -> list[str]:
    """Optimized-plan lines where regexp_replace shares ONE projection
    with regexp_count — the round-10 measured cliff condition: a
    projection fusing both de-optimizes 42.7x per 1M docs even when
    each expression is harmless alone (operators/text.py cliff note,
    BASELINE.md §5y)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [
        line for line in plan.splitlines()
        if "regexp_replace" in line and "regexp_count" in line
    ]


def test_quality_projection_never_fuses_replace_with_counts(spark, qs):
    """Cliff-condition regression pin for the r9/r10 quality floors:
    no projection in the quality/span family plans may fuse
    regexp_replace with regexp_count. q222's entire 45 s floor was one
    such fused projection; all char-class counts are positive-class
    regexp_count now. Guards q21 (token stats), q23-path quality
    features, and the calibrated q222."""
    from batch_process_spark.operators.text import quality_features

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert _projects_mixing_replace_and_count(quality_features(docs)) == []
    for q in ("q222_quality_dup_calibration", "q21_token_stats",
              "q207_sliding_span_dedup", "q219_span_attribution"):
        mixed = _projects_mixing_replace_and_count(qs[q](spark, SF))
        assert mixed == [], f"{q} fuses replace with counts:\n" + "\n".join(mixed)


def test_span_family_kernel_runs_once_via_memo(spark, qs):
    """Round-11 pin: the span-family audits branch over the
    h-partitioned occurrence frame multiple times (a frame joined to
    its own aggregates is never subtree-reused by Catalyst — the r10
    ReusedExchange lesson), so queries_ext15._span_occ persists it via
    caching.memoized_persist. Each plan must run the Arrow span kernel
    EXACTLY ONCE (one MapInPandas, inside the shared InMemoryRelation)
    with every other branch reading the cache — q247 previously ran the kernel
    FIVE times (57.8 -> ~20 s at 1M docs), q240/q242 twice."""
    from batch_process_spark.operators.caching import release_all

    release_all()  # deterministic start: first branch persists
    try:
        for q in ("q240_span_novelty_curve", "q242_dup_by_length",
                  "q247_span_containment", "q219_span_attribution"):
            plan = plan_of(qs[q](spark, SF))
            tree = [l.split(")", 1)[1].strip() for l in plan.splitlines()
                    if l.strip().startswith("(")]
            assert tree.count("MapInPandas") == 1, f"{q}: kernel not shared"
            assert tree.count("InMemoryTableScan") >= 2, f"{q}: no cache reads"
            assert "CartesianProduct" not in plan
    finally:
        release_all()


def test_q209_drift_partial_aggs(spark, qs):
    """The drift monitor's (label, pos) conditional means run as
    two-phase hash aggregates (partial_ prefixed) — the exchange
    carries labels x dims partials, never raw exploded rows."""
    plan = plan_of(qs["q209_embedding_drift"](spark, SF))
    assert "partial_avg" in plan
    assert "CartesianProduct" not in plan


def test_ivfpq_topk_prunes_partitions_on_disk_layout(spark, tmp_path_factory):
    """ivfpq_topk over a codes index written partitionBy(centroid_id)
    (the ivf_write layout) pushes its probed-cells filter into
    PartitionFilters — the scan lists only probed cells' files — and
    still answers exactly (all cells probed here)."""
    from batch_process_spark.operators import pq
    from batch_process_spark.operators.similarity import brute_force_topk, ivf_write

    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i // 5), 1.0, 0.0]) for i in range(30)],
        "vec_id long, embedding array<double>",
    ).persist()
    emb.count()
    assigned_codes, cents, cb = pq.ivfpq_index(emb, subdim=2, k_code=4, n_centroids=2)
    path = str(tmp_path_factory.mktemp("ivfpq") / "codes")
    ivf_write(assigned_codes, path)
    on_disk = spark.read.parquet(path)

    queries = emb.filter("vec_id in (0, 17)").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq.ivfpq_topk(
        on_disk, cents, cb, queries, subdim=2, corpus=emb,
        k=3, rerank_factor=10, nprobe=2,  # both cells -> exact
    )
    plan = plan_of(out)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "centroid_id" in pf and "IN" in pf
    got = {(r["query_id"], r["vec_id"], r["rank"]) for r in out.collect()}
    want = {
        (r["query_id"], r["vec_id"], r["rank"])
        for r in brute_force_topk(emb, queries, k=3).collect()
    }
    assert got == want
    emb.unpersist()


def test_q229_zipf_window_after_partial_agg(spark, qs):
    """q229's top-200 window must run over the COUNTED (source, term)
    frame, not the raw token explode: the plan shows a partial-agg
    HashAggregate below the window sort, and the rank<=N filter is
    pushed into a WindowGroupLimit (per-partition top-k heaps — the
    window never fully sorts a vocab partition)."""
    plan = plan_of(qs["q229_zipf_slope"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final for the tf count
    assert "CartesianProduct" not in plan


def test_q231_no_cartesian_and_windows_partitioned(spark, qs):
    """q231's packing join touches the bounded candidate frame only —
    no cartesian fallback — and the running sum windows on query_id
    (a global unpartitioned window over the corpus would serialize)."""
    plan = plan_of(qs["q231_context_budget_pack"](spark, SF))
    assert "CartesianProduct" not in plan
    # the running-sum window hash-partitions on query_id (parallel
    # across queries), never an empty partition spec (global sort)
    assert "hashpartitioning(query_id" in plan
    assert "windowspecdefinition(query_id" in plan


def test_q234_total_is_broadcast(spark, qs):
    """q234 crosses the 20-row per-source frame with the 1-row total —
    that must be a broadcast nested loop over the LITERALLY one-row
    side, never a shuffled cartesian of anything corpus-sized."""
    plan = plan_of(qs["q234_epoch_mixture_plan"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_rerank_against_bucketed_corpus_never_shuffles_corpus(spark):
    """BASELINE 5u's production property, plan-pinned: the exact-rerank
    id-join must be exchange-free on the corpus side even with
    broadcasts disabled — only the bounded candidate frame moves.

    r13 update: §5u originally achieved this only for a BUCKETED
    corpus (the plain path degraded to an SMJ reshuffling the float
    corpus once auto-broadcast was off, so this test pinned
    n_ex_bucketed < n_ex_plain). The r13 explicit `F.broadcast(cand)`
    in _exact_rerank (BASELINE §5aj serving cliff) lifts the PLAIN
    path to the same corpus-shuffle-free shape at any corpus size, so
    the pin is now direct and holds for both variants: no sort-merge /
    shuffled-hash anywhere, the corpus enters through a
    BroadcastHashJoin stream side, and bucketing no longer buys the
    rerank join anything (it remains load-bearing for other id-keyed
    ops)."""
    from batch_process_spark.operators.pq import _exact_rerank
    from batch_process_spark.sinks.writers import write_bucketed

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0, 0.0]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    write_bucketed(emb, "rerank_corpus_bkt", "vec_id", n_buckets=4)
    try:
        corpus = spark.table("rerank_corpus_bkt")
        queries = spark.createDataFrame(
            [(0, [1.0, 1.0, 1.0, 0.0])], "query_id long, embedding array<double>"
        )
        cand = spark.createDataFrame(
            [(0, i) for i in range(0, 40, 2)], "query_id long, vec_id long"
        )
        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            for variant in (corpus, emb):
                out = _exact_rerank(cand, variant, queries, k=5)
                tree = plan_of(out).split("\n\n")[0]
                # the corpus side must stream through a broadcast join:
                # no shuffle join strategy may appear even with
                # auto-broadcast off (the at-scale serving shape)
                assert "SortMergeJoin" not in tree
                assert "ShuffledHashJoin" not in tree
                assert "BroadcastHashJoin" in tree
                # the only exchanges allowed are the two broadcast
                # builds (cand, queries) and the window's query
                # partitioning — nothing corpus-keyed
                assert tree.count("Exchange") <= 3, tree.count("Exchange")
                assert "hashpartitioning(vec_id" not in tree
            # and the answer is intact: 5 rows, k ties broken on id
            rows = _exact_rerank(cand, corpus, queries, k=5).collect()
            assert len(rows) == 5 and all(r["query_id"] == 0 for r in rows)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    finally:
        spark.sql("DROP TABLE IF EXISTS rerank_corpus_bkt")


def test_q224_single_scan_single_data_exchange(spark, qs):
    """Round-11 restructure pin (r11 verdict item 4): q224's published
    ingest-delta numbers are pure per-hash arithmetic, so the whole
    query must stay ONE parquet text scan (hash computed in the scan
    projection) + ONE data-sized hashpartitioning exchange on h; the
    only other exchange allowed is the SinglePartition gather of the
    1-row totals. A refactor reintroducing the two-scan corpus/batch
    shape (2x text scan + distinct + first-occurrence join) fails
    here instead of at the next volume probe."""
    plan = qs["q224_ingest_dedup_delta"](spark, SF)._jdf.queryExecution() \
        .executedPlan().toString()
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 1, f"expected ONE text scan:\n{scans}"
    exchanges = [l.strip() for l in plan.splitlines() if "Exchange" in l
                 and "Reused" not in l]
    hash_ex = [l for l in exchanges if "hashpartitioning" in l]
    single_ex = [l for l in exchanges if "SinglePartition" in l]
    assert len(hash_ex) == 1, f"expected ONE h exchange:\n{exchanges}"
    assert len(exchanges) == len(hash_ex) + len(single_ex)
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_cached_plan_aqe_conf_right_sizes_memoized_frames(spark):
    """VERDICT r13 item 2 (evidence for the session default
    spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true):
    without it a persisted frame materializes its shuffle at the
    STATIC partition count, and every downstream map stage over the
    cache inherits that width — the iterative graph queries paid
    static-count task launches per power-iteration round (committed
    A/B: aqecache_r14.json). Pin the conf AND the behavior: a tiny
    persisted aggregate must land coalesced below the static count."""
    assert (
        spark.conf.get(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
        )
        == "true"
    )
    df = (
        spark.range(1000)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    try:
        df.count()
        static = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert df.rdd.getNumPartitions() < static
    finally:
        df.unpersist()


def test_bench_queries_invariant_to_partitioning_and_aqe(spark, qs):
    """A result must not depend on physical choices: the timed query set
    returns the same canonical values (``canon_pandas``: sorted,
    stringified ``toPandas()``) under the session default, one shuffle partition
    with AQE off, and 32 shuffle partitions with AQE on. The plan cache
    and the persisted memos are dropped between settings, so each one
    plans and executes from scratch."""
    import os

    import bench
    from scripts.selfcheck import canon_pandas

    from batch_process_spark.queries import invalidate_tables

    sf = os.path.join(os.path.dirname(SF), "sf0.01")
    settings = [
        {},
        {"spark.sql.shuffle.partitions": "1", "spark.sql.adaptive.enabled": "false"},
        {"spark.sql.shuffle.partitions": "32", "spark.sql.adaptive.enabled": "true"},
    ]
    touched = {k for s in settings for k in s}
    saved = {k: spark.conf.get(k) for k in touched}
    results = []
    try:
        for conf in settings:
            invalidate_tables()
            for k in touched:
                spark.conf.set(k, conf.get(k, saved[k]))
            results.append(
                {n: canon_pandas(qs[n](spark, sf).toPandas()) for n in bench.BENCH_QUERIES}
            )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        invalidate_tables()
    for conf, got in zip(settings[1:], results[1:]):
        differ = [n for n in bench.BENCH_QUERIES if got[n] != results[0][n]]
        assert not differ, f"{conf} changed the results of {differ}"


# Spark jobs that each bench query's plan build starts, from an empty
# table memo (``invalidate_tables`` first, so no count depends on query
# order). Plan build may run only bounded metadata jobs: today one
# schema-inference job per ``_t()`` table read, plus the driver-side
# sizing of q25 and the span family. A ``_t()`` that reads the schema
# without a job shows here as lower counts.
BUILD_JOBS = {
    "q01_pricing_summary": 1, "q02_filter_multi": 1, "q04_union_align": 1,
    "q05_group_split_nullkeys": 1, "q06_label_enrich_join": 3, "q07_result_merge": 1,
    "q16_report_roundtrip": 1, "q17_dedup_exact": 1, "q18_minhash_lsh_neardup": 1,
    "q21_token_stats": 1, "q25_embedding_topk": 2, "q29_shipping_priority": 6,
    "q30_local_supplier_volume": 8, "q31_revenue_forecast": 1,
    "q207_sliding_span_dedup": 5, "q219_span_attribution": 5,
    "q222_quality_dup_calibration": 5, "q224_ingest_dedup_delta": 1,
}


def test_bench_query_build_jobs_are_pinned(spark, qs):
    import bench

    from batch_process_spark.queries import invalidate_tables

    store = spark.sparkContext._jsc.sc().statusStore()

    def last_job_id() -> int:
        jobs = store.jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    got = {}
    try:
        for name in bench.BENCH_QUERIES:
            invalidate_tables()
            mark = last_job_id()
            qs[name](spark, SF)
            got[name] = last_job_id() - mark
    finally:
        invalidate_tables()
    assert got == BUILD_JOBS
