"""The benchmark's workloads.

Both run in one fresh process against the engine's default session and
have the same shape: generate inputs (untimed), one **cold** pass in
which every operation runs for the first time, one untimed **warm-up**
pass, then a fixed number of timed **steady** passes with one client
thread. Outputs are checked outside the timed passes: the catalog's
warm-up pass is its check, ingest checks every pass. The pass count is
set by the command line alone, never by how fast the host is.

- ``catalog`` — the 18 catalog queries, each ``queries()[name](spark,
  dir)`` followed by a noop-sink write, in a seeded order. The cold
  pass pays plan build, table loading, Catalyst and first-run codegen;
  steady passes hit the engine's plan cache, so they time execution.
  Part 1 is the queries over the star-schema tables, part 2 those over
  the document corpus.
- ``ingest`` — the paper's file-tree job (list, read, rule pipeline,
  report parsing, per-directory rollup, every output to a parquet
  sink) as part 1, then a streaming windowed aggregation fed one
  parquet slice at a time as part 2.

An operation is one query call, one pipeline step ending in a sink
write, or one stream step. Every operation and every output check is
attempted once per pass; one that raises or returns a wrong answer is
counted as failed and its error kept.
"""

from __future__ import annotations

import fnmatch
import os
import random
import shutil
import time
import weakref
from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

import checks
import datagen
from spans import median, percentile

# one representative per query family; frozen here so the workload does
# not move when the engine's own bench list changes
CATALOG_QUERIES = [
    "q01_pricing_summary",
    "q02_filter_multi",
    "q04_union_align",
    "q05_group_split_nullkeys",
    "q06_label_enrich_join",
    "q07_result_merge",
    "q16_report_roundtrip",
    "q17_dedup_exact",
    "q18_minhash_lsh_neardup",
    "q21_token_stats",
    "q25_embedding_topk",
    "q29_shipping_priority",
    "q30_local_supplier_volume",
    "q31_revenue_forecast",
    "q207_sliding_span_dedup",
    "q219_span_attribution",
    "q222_quality_dup_calibration",
    "q224_ingest_dedup_delta",
]

# part 2 of the catalog: the queries over the document corpus
# (``documents``/``embeddings``); the rest read the star-schema tables
DOCUMENT_QUERIES = {
    "q17_dedup_exact",
    "q18_minhash_lsh_neardup",
    "q21_token_stats",
    "q25_embedding_topk",
    "q207_sliding_span_dedup",
    "q219_span_attribution",
    "q222_quality_dup_calibration",
    "q224_ingest_dedup_delta",
}

# the rule config the ingest pipeline compiles (reference grammar:
# glob -> processors); numeric files are named f<NNN>.<ext>
PIPELINE_CONFIG = {
    "rules": {
        "**/*.txt": {"processors": ["line_counts"]},
        "**/f*": {"processors": ["extract_numbers"]},
    }
}


@dataclass
class Sizes:
    sf: float = 0.01
    tree_groups: int = 4
    tree_runs: int = 4
    tree_files_per_run: int = 3
    report_blocks: int = 8
    stream_slices: int = 7
    events_per_slice: int = 60_000


@dataclass
class Context:
    spark: object
    entry: object  # the engine's ``__spark_entry__`` module
    tracer: object
    seed: int
    passes: int  # timed steady passes
    work_dir: str
    sizes: Sizes


@dataclass
class Outcome:
    cold: dict[str, float] = field(default_factory=dict)
    steady: dict[str, list[float]] = field(default_factory=dict)
    # op -> calls per pass and op -> part (1 or 2), from the cold pass's
    # attempts, so a failed call does not shrink the median pass
    per_pass: dict[str, int] = field(default_factory=dict)
    part: dict[str, int] = field(default_factory=dict)
    passes: int = 0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # headline metrics a workload adds: name -> (value, unit)
    info: dict[str, tuple[float, str]] = field(default_factory=dict)
    tree_bytes: int = 0  # bytes of the generated tree (ingest)

    def attempt(self, name: str, fn: Callable[[], object]) -> float | None:
        """Run ``fn`` once; its wall seconds, or None if it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            fn()
        except Exception as exc:  # counted and reported, never swallowed
            self.fail(name, exc)
            return None
        return time.perf_counter() - t0

    def expect(self, name: str, part: int, phase: str, calls: int = 1) -> None:
        """Declare ``calls`` calls of ``name`` in this pass (counted on
        the cold pass only)."""
        if phase == "cold":
            self.per_pass[name] = self.per_pass.get(name, 0) + calls
            self.part[name] = part

    def record(self, name: str, phase: str, seconds: float) -> None:
        if phase == "cold":
            self.cold[name] = self.cold.get(name, 0.0) + seconds
        elif phase == "steady":
            self.steady.setdefault(name, []).append(seconds)

    def op(self, name: str, part: int, phase: str, fn: Callable[[], object]) -> None:
        """One timed operation."""
        self.expect(name, part, phase)
        seconds = self.attempt(name, fn)
        if seconds is not None:
            self.record(name, phase, seconds)

    def check(self, name: str, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors.append(f"check {name}: " + "; ".join(errs))

    def fail(self, name: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")


def _passes(ctx: Context, out: Outcome, one_pass: Callable[[str, int], None]) -> None:
    """The cold pass, one warm-up pass, then ``ctx.passes`` steady
    passes. The pass after the cold one is still warming up (its
    queries run up to twice as long as later ones), so it is not
    timed."""
    for idx, phase in enumerate(["cold", "warmup"] + ["steady"] * ctx.passes):
        ctx.tracer.phase = phase
        one_pass(phase, idx)
        out.passes += phase == "steady"


def count_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1 for line in plan.splitlines()
        if line.lstrip(" :+-*()0123456789").split(" ", 1)[0].endswith("Exchange")
    )


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------


def catalog(ctx: Context) -> Outcome:
    out = Outcome()
    tr, spark = ctx.tracer, ctx.spark
    data = os.path.join(ctx.work_dir, "tables")
    datagen.write_catalog_tables(data, ctx.sizes.sf, ctx.seed)
    order = list(CATALOG_QUERIES)
    random.Random(ctx.seed).shuffle(order)
    queries = ctx.entry.queries()
    last_df: dict[str, weakref.ref] = {}

    def call(name: str) -> None:
        with tr.span("queries.build", query=name) as sp:
            df = queries[name](spark, data)
        if sp is not None:
            prev = last_df.get(name)
            sp.attrs["cache_hit"] = prev is not None and prev() is df
            last_df[name] = weakref.ref(df)
            with tr.span("catalyst.plan", query=name) as pp:
                pp.attrs["exchanges"] = count_exchanges(df)
        with tr.span("exec.run", counts=True, query=name):
            df.write.format("noop").mode("overwrite").save()

    def one_pass(phase: str, _idx: int) -> None:
        if phase == "warmup":
            # the warm-up runs every query once more, untimed, collecting
            # its answer for the oracle check
            _check_catalog(ctx, out, {name: queries[name] for name in order}, data)
            return
        for name in order:
            with tr.span("bench.op", op=name):
                out.op(name, 2 if name in DOCUMENT_QUERIES else 1, phase, lambda: call(name))

    _passes(ctx, out, one_pass)
    out.info.update(_pass_metrics(out))
    return out


def _check_catalog(ctx: Context, out: Outcome, queries: dict, data: str) -> None:
    """Each query's answer against its DuckDB oracle on the same tables."""
    sqls = ctx.entry.oracle_sql()
    oracle = checks.Oracle(data, datagen.CATALOG_TABLES)
    try:
        for name, fn in queries.items():
            try:
                if name not in sqls:
                    raise LookupError("no oracle SQL for this query")
                got = checks.pandas_rows(fn(ctx.spark, data).toPandas())
                errs = checks.compare_tables(*got, *oracle.rows(sqls[name]))
            except Exception as exc:
                errs = [f"{type(exc).__name__}: {str(exc)[:300]}"]
            out.check(name, errs)
    finally:
        oracle.close()


def _pass_metrics(out: Outcome) -> dict[str, tuple[float, str]]:
    """cold_total_s: the cold pass's operation times, summed. The steady
    metrics describe a *median pass*: each operation is called as often
    as in the cold pass, and every call takes that operation's median
    steady time. steady_total_s sums it, steady_part<n>_s sums the
    calls of one part, steady_p90_s is its p90 call."""

    def median_pass(part: int | None = None) -> list[float]:
        return [median(out.steady[name]) for name, calls in out.per_pass.items()
                if out.steady.get(name) and part in (None, out.part[name])
                for _ in range(calls)]

    calls = median_pass()
    return {
        "cold_total_s": (sum(out.cold.values()), "s"),
        "steady_total_s": (sum(calls), "s"),
        "steady_p90_s": (percentile(calls, 90) if calls else 0.0, "s"),
        "steady_part1_s": (sum(median_pass(1)), "s"),
        "steady_part2_s": (sum(median_pass(2)), "s"),
    }


# ---------------------------------------------------------------------------
# ingest: file tree ETL + streaming windows
# ---------------------------------------------------------------------------


def ingest(ctx: Context) -> Outcome:
    from pyspark.sql import functions as F

    import batch_process_spark.plans.builtin_ops  # noqa: F401  (registers the built-in operators)
    from batch_process_spark.operators.grouping import dir_level_aggregate
    from batch_process_spark.plans.compiler import Pipeline
    from batch_process_spark.sinks.writers import write_parquet
    from batch_process_spark.sources.filetree import file_tree_df, read_tree_texts
    from batch_process_spark.sources.report_parser import parse_blade_load_files
    from batch_process_spark.streaming.windows import run_stream_to_memory, tumbling_window_agg

    out = Outcome()
    tr, spark, sz = ctx.tracer, ctx.spark, ctx.sizes
    root = os.path.join(ctx.work_dir, "tree")
    man = datagen.write_file_tree(
        root, ctx.seed, sz.tree_groups, sz.tree_runs, sz.tree_files_per_run, sz.report_blocks
    )
    stage_dir = os.path.join(ctx.work_dir, "slices")
    slices = datagen.write_event_slices(stage_dir, ctx.seed + 1, sz.stream_slices, sz.events_per_slice)
    out.tree_bytes = man.tree_bytes

    def windows(events):
        return tumbling_window_agg(events, width="1 hour", keys=["key"], watermark="30 minutes")

    def sink(name: str, df, path: str) -> None:
        if tr.enabled:
            with tr.span("catalyst.plan", op=name) as pp:
                pp.attrs["exchanges"] = count_exchanges(df)
        with tr.span("sinks.write", counts=True, op=name) as sp:
            write_parquet(df, path)
        if sp is not None:
            files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            sp.attrs["files"] = len(files)
            sp.attrs["bytes"] = sum(os.path.getsize(os.path.join(path, f)) for f in files)

    def etl_pass(phase: str, dest: str) -> dict:
        frames: dict = {}

        def step(name: str, fn: Callable[[], None]) -> None:
            with tr.span("bench.op", op=name):
                out.op(name, 1, phase, fn)

        def listing() -> None:
            with tr.span("sources.list"):
                tree = file_tree_df(spark, root)
            sink("listing", tree, f"{dest}/listing")

        def pipeline() -> None:
            with tr.span("sources.read"):
                texts = read_tree_texts(spark, root)
            with tr.span("plans.compile"):
                pipe = Pipeline(PIPELINE_CONFIG)
            with tr.span("plans.run"):
                frames["result"] = pipe.run(texts)
            frames["texts"] = texts

        def stage_write(st) -> Callable[[], None]:
            return lambda: sink(f"stage{st.step}", frames["result"].outputs[st.step],
                                f"{dest}/stage{st.step}_{st.op_name}")

        def blade() -> None:
            with tr.span("sources.parse"):
                df = parse_blade_load_files(frames["texts"].filter(F.col("ext") == "out"))
            sink("blade", df, f"{dest}/blade")

        def rollup() -> None:
            res = frames["result"]
            nums = [res.outputs[st.step].select("level0", "level1", "values")
                    for st in res.stages if st.op_name == "extract_numbers"]
            with tr.span("operators.rollup"):
                df = dir_level_aggregate(reduce(lambda a, b: a.unionByName(b), nums), 1)
            sink("rollup", df, f"{dest}/rollup")

        t0 = time.perf_counter()
        step("list", listing)
        step("pipeline", pipeline)
        if "result" in frames:
            for st in frames["result"].stages:
                step(f"stage{st.step}_{st.op_name}", stage_write(st))
            step("blade", blade)
            step("rollup", rollup)
        frames["etl_s"] = time.perf_counter() - t0
        return frames

    def stream_pass(phase: str, idx: int) -> dict:
        """One stream run, timed as operations: ``stream.start`` (query
        start and first empty drain), one ``stream.batch`` per slice
        (slice landed -> its drain returned) and ``stream.stop``."""
        base = os.path.join(ctx.work_dir, f"stream{idx}")
        src = os.path.join(base, "in")
        os.makedirs(src)
        marks: list[float] = []  # perf_counter stamps, decoded below
        res: dict = {}

        def land(i: int) -> Callable[[], None]:
            def feed() -> None:
                marks.append(time.perf_counter())  # previous drain returned
                # written under a hidden name, then renamed: the source
                # never lists a half-written file
                tmp = os.path.join(src, f".slice{i:04d}.parquet")
                shutil.copyfile(slices[i], tmp)
                os.rename(tmp, os.path.join(src, f"slice{i:04d}.parquet"))
                marks.append(time.perf_counter())
            return feed

        def run() -> None:
            with tr.span("stream.run", counts=True, op="stream") as sp:
                marks.append(time.perf_counter())
                res["table"] = run_stream_to_memory(
                    spark, src, datagen.EVENT_SCHEMA, windows,
                    query_name=f"perfbench_stream{idx}",
                    feeds=[land(i) for i in range(len(slices))]
                    + [lambda: marks.append(time.perf_counter())],
                    scoped_conf={"spark.sql.streaming.checkpointLocation": os.path.join(base, "ckpt")},
                )
                marks.append(time.perf_counter())
            if sp is not None:
                sp.attrs["progress"] = listener.take()

        out.expect("stream.start", 2, phase)
        out.expect("stream.batch", 2, phase, len(slices))
        out.expect("stream.stop", 2, phase)
        with tr.span("bench.op", op="stream"):
            ok = out.attempt("stream", run) is not None
        if ok:
            # marks: call, (feed start, landed) per slice, last drain, return
            landed = marks[2:-2:2]
            drained = marks[3:-1:2]
            out.attempted += len(slices) + 1  # start, batches and stop
            out.record("stream.start", phase, marks[1] - marks[0])
            res["batch_s"] = [d - l for l, d in zip(landed, drained)]
            for b in res["batch_s"]:
                out.record("stream.batch", phase, b)
            out.record("stream.stop", phase, marks[-1] - marks[-2])
            res["rows_per_s"] = len(slices) * sz.events_per_slice / (drained[-1] - landed[0])
        return res

    expected: list = []
    etl_s: list[float] = []
    rows_per_s: list[float] = []
    batch_s: list[float] = []

    def one_pass(phase: str, idx: int) -> None:
        dest = os.path.join(ctx.work_dir, f"out{idx}")
        frames = etl_pass(phase, dest)
        stream = stream_pass(phase, idx)
        if phase == "steady":
            etl_s.append(frames["etl_s"])
            if "rows_per_s" in stream:
                rows_per_s.append(stream["rows_per_s"])
                batch_s.extend(stream["batch_s"])
        # checks, outside the timed operations
        tr.phase, phase_was = "check", tr.phase
        if "result" in frames:
            _check_tree(out, man, dest, frames["result"])
        if "table" in stream:
            if not expected:
                batch = spark.read.schema(datagen.EVENT_SCHEMA).parquet(*slices)
                expected.append(checks.pandas_rows(windows(batch).toPandas()))
            got = checks.pandas_rows(stream["table"].toPandas())
            out.check("stream", checks.compare_tables(*got, *expected[0]))
        tr.phase = phase_was
        shutil.rmtree(dest, ignore_errors=True)
        shutil.rmtree(os.path.join(ctx.work_dir, f"stream{idx}"), ignore_errors=True)

    listener = _ProgressListener(spark) if tr.enabled else None
    try:
        _passes(ctx, out, one_pass)
    finally:
        if listener is not None:
            listener.close()
    out.info.update(_pass_metrics(out))
    if etl_s:
        out.info["etl_s"] = (median(etl_s), "s")
    if rows_per_s:
        out.info["stream_rows_per_s"] = (median(rows_per_s), "1/s")
        out.info["stream_batch_p50_s"] = (median(batch_s), "s")
    return out


def _check_tree(out: Outcome, man: datagen.TreeManifest, dest: str, result) -> None:
    """Compare every sink output of one ETL pass with what the tree
    generator wrote."""
    import pyarrow.parquet as pq

    def read(name: str) -> dict:
        return pq.read_table(os.path.join(dest, name)).to_pydict()

    def run(name: str, fn: Callable[[], list[str]]) -> None:
        try:
            errs = fn()
        except Exception as exc:
            errs = [f"{type(exc).__name__}: {str(exc)[:300]}"]
        out.check(name, errs)

    def listing() -> list[str]:
        t = read("listing")
        files = [r for r, d in zip(t["relpath"], t["is_dir"]) if not d]
        per_dir: dict[str, int] = {}
        for r in files:
            per_dir[r.rsplit("/", 1)[0]] = per_dir.get(r.rsplit("/", 1)[0], 0) + 1
        errs = []
        if len(t["relpath"]) != 1 + man.n_dirs + man.n_files:
            errs.append(f"{len(t['relpath'])} entries, expected {1 + man.n_dirs + man.n_files}")
        if per_dir != man.files_per_dir:
            errs.append("files per directory differ from the generated tree")
        return errs

    def statuses() -> list[str]:
        bad = [r for r in result.results.collect() if r["status"] != "success"]
        return [f"stage {r['step']} {r['processor']}: {r['status']} {r['error']}" for r in bad]

    def stage(st) -> Callable[[], list[str]]:
        def check() -> list[str]:
            t = read(f"stage{st.step}_{st.op_name}")
            if st.op_name == "line_counts":
                got, want = dict(zip(t["relpath"], t["lines"])), man.line_counts
            else:
                got = {r: len(v) for r, v in zip(t["relpath"], t["values"])}
                name_glob = st.pattern.rsplit("/", 1)[-1]
                want = {k: v for k, v in man.numeric_files.items()
                        if fnmatch.fnmatch(k.rsplit("/", 1)[-1], name_glob)}
            return [] if got == want else [f"{st.op_name} per-file values differ for {st.pattern}"]
        return check

    def blade() -> list[str]:
        n = len(read("blade")["path"])
        return [] if n == man.blade_rows else [f"{n} blade rows, expected {man.blade_rows}"]

    def rollup() -> list[str]:
        t = read("rollup")
        got = {f"{a}/{b}": (n, len(v)) for a, b, n, v in
               zip(t["level0"], t["level1"], t["n_files"], t["all_values"])}
        want: dict[str, tuple[int, int]] = {}
        for rel, n_vals in man.numeric_files.items():
            d = rel.rsplit("/", 1)[0]
            files, vals = want.get(d, (0, 0))
            want[d] = (files + 1, vals + n_vals)
        return [] if got == want else ["per-directory file and value counts differ"]

    run("listing", listing)
    run("pipeline", statuses)
    for st in result.stages:
        run(f"stage{st.step}_{st.op_name}", stage(st))
    run("blade", blade)
    run("rollup", rollup)


class _ProgressListener:
    """Collects ``StreamingQueryProgress`` events (traced runs only)."""

    def __init__(self, spark):
        import json

        from pyspark.sql.streaming import StreamingQueryListener

        events: list[dict] = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.events = events
        self.listener = Listener()
        spark.streams.addListener(self.listener)

    def take(self) -> list[dict]:
        """Events so far; waits until the asynchronous bus goes quiet."""
        n = -1
        while n != len(self.events):
            n = len(self.events)
            time.sleep(0.2)
        taken, self.events[:] = list(self.events), []
        return taken

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)
