"""The benchmark's own tests, on tiny inputs (sf0.001, a 16-file tree,
3 stream slices). Run from the repository root:

    python3 -m pytest perfbench -q

The two traced runs start their own Spark process each (about 40 s
apiece); the remaining tests run in this process.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import checks  # noqa: E402
import children  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

# every per-layer metric the benchmark defines, with the workload it
# applies to ("both" = measured on each workload)
LAYER_METRICS = {
    "session.start_s": "both", "session.import_s": "both",
    "queries.build_s": "catalog", "queries.build_jobs": "catalog",
    "queries.plan_cache_hit_ratio": "catalog",
    "catalyst.plan_s": "both", "catalyst.exchanges": "both",
    "exec.s": "both", "exec.jobs": "both", "exec.stages": "both", "exec.tasks": "both",
    "exec.task_time_s": "both", "exec.core_util": "both", "exec.task_skew": "both",
    "exec.shuffle_bytes": "both", "exec.spill_bytes": "none", "exec.input_bytes": "both",
    "plans.compile_s": "ingest", "plans.run_s": "ingest",
    "sources.list_s": "ingest", "sources.scan_tasks": "ingest", "sources.read_amp": "ingest",
    "sinks.write_s": "ingest", "sinks.files_written": "ingest", "sinks.bytes_written": "ingest",
    "stream.batches": "ingest", "stream.trigger_ms": "ingest", "stream.state_rows": "ingest",
    "stream.state_mem_bytes": "ingest", "stream.state_commit_ms": "ingest",
    "stream.rows_dropped_late": "none",
    "driver.gc_s": "both", "driver.peak_rss_mb": "both", "cache.pinned_bytes": "none",
}
PHASELESS = {"session.start_s", "session.import_s", "driver.gc_s", "driver.peak_rss_mb",
             "cache.pinned_bytes"}
# the cold pass finds no cached plan; steady calls hit the plan cache,
# so building a plan starts no job
MAY_BE_ZERO = {"queries.plan_cache_hit_ratio.cold", "queries.build_jobs.steady"}


def _traced_run(workload: str, tmp_path) -> dict:
    record = tmp_path / f"{workload}.json"
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", "1", "--size", "tiny", "--record", str(record)],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    rec = json.loads(record.read_text())
    assert last == rec["result"]
    return rec


def test_steady_pass_count_is_fixed_by_the_command_line():
    assert [run.steady_passes(s) for s in (0, 12, 14, 24)] == [3, 3, 4, 6]


@pytest.fixture(scope="module", params=["catalog", "ingest"])
def traced(request, tmp_path_factory):
    return request.param, _traced_run(request.param, tmp_path_factory.mktemp(request.param))


def test_every_metric_is_emitted_with_a_unit(traced):
    workload, rec = traced
    assert rec["result"]["correct"], rec["errors"]
    assert rec["result"]["attempted"] >= 1 and rec["result"]["failed"] == 0
    for name in run.END_TO_END:
        value, unit = rec["end_to_end"][name]
        assert value > 0 and unit
    # a cold pass, an untimed warm-up pass, then the fixed steady passes
    passes = rec["fingerprint"]["steady_passes"]
    assert passes == run.steady_passes(0)
    assert {len(v) for k, v in rec["ops"]["steady"].items() if k != "stream.batch"} == {passes}
    parts = rec["end_to_end"]
    assert parts["steady_part1_s"][0] + parts["steady_part2_s"][0] == pytest.approx(
        parts["steady_total_s"][0])
    declared = run.per_layer_names()
    assert set(rec["result"]["metrics"]) == set(declared)
    assert all(m["unit"] for m in rec["result"]["metrics"].values())
    zero = []
    for base, where in LAYER_METRICS.items():
        names = [base] if base in PHASELESS else [f"{base}.cold", f"{base}.steady"]
        for name in names:
            value, unit = rec["layers"][name]
            assert unit, name
            if where in ("both", workload) and name not in MAY_BE_ZERO and not value > 0:
                zero.append(name)
    assert not zero, f"zero on {workload}: {zero}"
    if workload == "catalog":
        assert rec["layers"]["queries.plan_cache_hit_ratio.steady"][0] == 1.0
        for q in workloads.CATALOG_QUERIES:
            assert rec["layers"][f"queries.build_s.cold.{q}"][0] > 0
            assert rec["layers"][f"exec.s.steady.{q}"][0] > 0
    else:
        for name in ("etl_s", "stream_rows_per_s", "stream_batch_p50_s"):
            assert rec["end_to_end"][name][0] > 0


def test_spans_nest_and_self_times_are_not_negative(traced):
    _, rec = traced
    spans = rec["spans"]
    assert spans
    for s in spans:
        assert s["end"] >= s["start"]
        assert s["run_id"] == spans[0]["run_id"]
        if s["parent"] is not None:
            p = spans[s["parent"]]
            assert p["start"] <= s["start"] and s["end"] <= p["end"], (p["name"], s["name"])
    selfs = {k: v for k, (v, _) in rec["layers"].items() if k.startswith("self_s.")}
    assert selfs and all(v >= 0 for v in selfs.values())


def test_tracer_self_time_excludes_children():
    tr = Tracer("t")
    with tr.span("bench.op"):
        with tr.span("exec.run"):
            pass
        with tr.span("sinks.write"):
            pass
    selfs = tr.self_times()
    outer = tr.spans[0].duration
    assert selfs["bench"] == pytest.approx(outer - tr.spans[1].duration - tr.spans[2].duration)
    assert all(v >= 0 for v in selfs.values())
    assert [s.parent for s in tr.spans] == [None, 0, 0]


def test_generators_are_byte_identical_per_seed(tmp_path):
    def digest(d):
        out = {}
        for root, _dirs, files in os.walk(d):
            for f in files:
                with open(os.path.join(root, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
        return out

    for sub in ("a", "b"):
        datagen.write_catalog_tables(str(tmp_path / sub / "tables"), 0.001, 5)
        datagen.write_file_tree(str(tmp_path / sub / "tree"), 5, 2, 2, 2, 2)
        datagen.write_event_slices(str(tmp_path / sub / "slices"), 5, 3, 100)
    assert digest(tmp_path / "a") == digest(tmp_path / "b")
    datagen.write_catalog_tables(str(tmp_path / "c"), 0.001, 6)
    assert digest(tmp_path / "c") != digest(tmp_path / "a" / "tables")


def test_median_pass_keeps_calls_that_failed():
    """An operation that fails in most steady passes keeps its calls in
    the median pass, at its median time over the calls that ran."""
    out = workloads.Outcome()
    calls = iter(range(100))

    def flaky() -> None:
        if next(calls) % 4:  # fails three calls in four
            raise RuntimeError("flaky")
        time.sleep(0.02)

    for phase in ["cold"] + ["steady"] * 4:
        for _ in range(2):
            out.op("flaky", 2, phase, flaky)
        out.op("steady", 1, phase, lambda: time.sleep(0.01))
    m = workloads._pass_metrics(out)
    assert out.per_pass == {"flaky": 2, "steady": 1}
    assert out.failed > 0 and len(out.steady["flaky"]) < 4
    assert m["steady_part2_s"][0] == pytest.approx(2 * workloads.median(out.steady["flaky"]))
    assert m["steady_total_s"][0] == pytest.approx(m["steady_part1_s"][0] + m["steady_part2_s"][0])
    assert m["steady_part2_s"][0] > m["steady_part1_s"][0]


def test_compare_tables_rules():
    cols = ["b", "a"]
    assert checks.compare_tables(cols, [(1.0000001, "x"), (2, None)],
                                 ["a", "b"], [("x", 1), (None, 2.0)]) == []
    assert checks.compare_tables(cols, [(1.5, "x")], ["a", "b"], [("x", 1.6)])
    assert checks.compare_tables(cols, [(1, "x")], ["a", "c"], [("x", 1)])
    assert checks.compare_tables(cols, [(1, "x")], ["a", "b"], [("x", 1), ("x", 1)])


def test_wrong_answer_counts_as_failed_operation(tmp_path):
    """A query whose answer is wrong is one failed operation, with its
    error reported; the correct queries are not."""
    from batch_process_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark()
    data = str(tmp_path / "tables")
    datagen.write_catalog_tables(data, 0.001, 3)
    queries = entry.queries()
    good, bad = "q05_group_split_nullkeys", "q31_revenue_forecast"
    sabotaged = {
        good: queries[good],
        bad: lambda s, d: queries[bad](s, d).selectExpr("revenue + 1 AS revenue", "n_rows"),
    }
    ctx = workloads.Context(spark, entry, None, 0, 0, str(tmp_path), workloads.Sizes())
    out = workloads.Outcome()
    try:
        workloads._check_catalog(ctx, out, sabotaged, data)
    finally:
        spark.stop()
        children.stop_jvm()
    assert (out.attempted, out.failed) == (2, 1)
    assert out.errors and bad in out.errors[0] and "values differ" in out.errors[0]


def test_reap_waits_for_orphans_and_kills_stragglers():
    """A child that exits leaving a grandchild behind: the grandchild
    comes back to the subreaper, and ``reap`` ends it and waits."""
    code = (
        "import os, subprocess, sys, time\n"
        "import children\n"
        "children.adopt_orphans()\n"
        "p = subprocess.Popen(['sh', '-c', 'sleep 60 & echo $!'], stdout=subprocess.PIPE)\n"
        "orphan = int(p.stdout.readline())\n"
        "p.wait()\n"
        "assert children.children() == [orphan]\n"
        "t0 = time.monotonic()\n"
        "children.reap(grace=0.5)\n"
        "assert not os.path.exists(f'/proc/{orphan}') and not children.children()\n"
        "print(time.monotonic() - t0)\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=HERE, capture_output=True,
                       text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    assert 0.5 <= float(p.stdout) < 10


def test_refuses_tuned_session():
    env = {**os.environ, "SPARK_GRAFT_LAYOUT_CACHE": "1"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "catalog"],
                       cwd=REPO, env=env, capture_output=True, text=True, timeout=60)
    assert p.returncode == 2 and p.stdout == ""
    assert "SPARK_GRAFT_LAYOUT_CACHE" in p.stderr


def test_refuses_without_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""
