"""Benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 12 --trace 0

One run is one fresh process: it builds the engine's default session
(``session.get_spark()`` with no extra conf and no tuning environment),
generates the workload's inputs from ``--seed`` in a private scratch
directory, runs the workload (see ``workloads.py``: a cold pass, a
warm-up pass, then ``steady_passes(--seconds)`` timed steady passes),
checks every output, removes its scratch directory and prints:

- one ``<metric> <value> <unit>`` line per end-to-end metric, plus the
  workload's own headline numbers;
- a ``fingerprint`` line (source hash, cores, conf, versions, load,
  CPU steal);
- with ``--trace 1``, a ``layers`` line with every per-layer number;
- last, one JSON object: ``correct``, ``attempted``, ``failed`` and
  ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
  metrics named in ``BENCHMARK.json`` with ``--trace 1``).

``--record PATH`` also writes everything, spans included, to PATH.
Exit status 2 means the run was refused (tuned session, no engine in
the working directory); nothing is printed on stdout then.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
from dataclasses import asdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import children  # noqa: E402
from spans import NullTracer, Tracer, median  # noqa: E402
import workloads  # noqa: E402

WORKLOADS = {"catalog": workloads.catalog, "ingest": workloads.ingest}
SIZES = {
    "default": workloads.Sizes(),
    "tiny": workloads.Sizes(sf=0.001, tree_groups=2, tree_runs=2, tree_files_per_run=3,
                            report_blocks=2, stream_slices=3, events_per_slice=500),
}
# env knobs that select a tuned engine; the benchmark times the default
TUNING_ENV = ("SPARK_GRAFT_LAYOUT_CACHE", "SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_LAYOUT_PARTS")
END_TO_END = ("setup_s", "cold_total_s", "steady_total_s", "steady_p90_s",
              "steady_part1_s", "steady_part2_s")
# a steady pass takes about this long on a 4-core host; ``--seconds``
# buys one timed pass per this many seconds, and never fewer than three
PASS_SECONDS = 4.0
MIN_PASSES = 3


class Refused(Exception):
    pass


def steady_passes(seconds: float) -> int:
    """Timed steady passes for ``--seconds``: fixed by the command line,
    the same on every host."""
    return max(MIN_PASSES, round(seconds / PASS_SECONDS))


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to others, all CPUs (from /proc/stat):
    a run whose host was contended shows here."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def per_layer_names() -> list[str]:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)["per_layer"]]


def preflight(repo: str) -> None:
    tuned = [k for k in TUNING_ENV if os.environ.get(k)]
    if tuned:
        raise Refused(f"tuned session: {', '.join(tuned)} set; unset to benchmark the default engine")
    for need in ("__spark_entry__.py", "batch_process_spark", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(repo, need)):
            raise Refused(f"{need} not found in {repo}: run from the repository root")


def isolate(work: str, repo: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work``, and put the repository on the Python workers' path."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: the JVM would otherwise keep a counters file
    # under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
                      "-XX:-UsePerfData"])
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
    sys.path.insert(0, repo)


def source_sha(repo: str) -> str:
    h = hashlib.sha256()
    paths = ["__spark_entry__.py"]
    for d, _dirs, files in os.walk(os.path.join(repo, "batch_process_spark")):
        paths += [os.path.relpath(os.path.join(d, f), repo) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(p.encode())
        with open(os.path.join(repo, p), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha(repo: str) -> str | None:
    if not os.path.isdir(os.path.join(repo, ".git")):
        return None
    res = subprocess.run(["git", "-C", repo, "rev-parse", "HEAD"], capture_output=True, text=True)
    return res.stdout.strip() or None


def fingerprint(spark, repo: str, args, sizes, load_start, steal_start) -> dict:
    import pyspark

    volatile = ("spark.app.id", "spark.app.startTime", "spark.app.submitTime", "spark.driver.port",
                "spark.driver.host", "spark.executor.id", "spark.sql.warehouse.dir")
    conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
            if k not in volatile and not k.startswith("spark.driver.extraJava")}
    return {
        "git_sha": git_sha(repo),
        "source_sha": source_sha(repo),
        "nproc": len(os.sched_getaffinity(0)),
        "cores": spark.sparkContext.defaultParallelism,
        "sf": sizes.sf,
        "sizes": asdict(sizes),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "steady_passes": steady_passes(args.seconds),
        "trace": args.trace,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "loadavg_start": list(load_start),
        "loadavg_end": list(os.getloadavg()),
        "cpu_steal_s": steal_s() - steal_start,
        "conf": dict(sorted(conf.items())),
    }


def layer_metrics(tr: Tracer, out: workloads.Outcome, cores: int) -> dict[str, tuple[float, str]]:
    """Per-layer numbers of a traced run. Phase-tagged metrics are per
    pass: the cold pass, and the mean over the timed steady passes."""
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (tr.total("session.start"), "s"),
        "session.import_s": (tr.total("session.import"), "s"),
    }
    tree_bytes = out.tree_bytes
    for phase, n in (("cold", 1), ("steady", max(1, out.passes))):
        spans = [s for s in tr.spans if s.attrs.get("phase") == phase]

        def of(name: str) -> list:
            return [s for s in spans if s.name == name]

        def secs(*names: str) -> float:
            return sum(s.duration for s in spans if s.name in names) / n

        def counts(ss) -> dict:
            tot: dict = {}
            for s in ss:
                for k, v in s.attrs.get("stages", {}).items():
                    tot[k] = max(tot.get(k, v), v) if k == "task_skew" else tot.get(k, 0) + v
            return tot

        builds = of("queries.build")
        m[f"queries.build_s.{phase}"] = (secs("queries.build"), "s")
        m[f"queries.build_jobs.{phase}"] = (
            sum(len(s.attrs.get("job_ids", [])) for s in builds) / n, "count")
        hit = sum(1 for s in builds if s.attrs.get("cache_hit")) / len(builds) if builds else 0.0
        m[f"queries.plan_cache_hit_ratio.{phase}"] = (hit, "ratio")
        for s in builds:
            key = f"queries.build_s.{phase}.{s.attrs['query']}"
            m[key] = (m.get(key, (0.0, "s"))[0] + s.duration / n, "s")

        m[f"catalyst.plan_s.{phase}"] = (secs("catalyst.plan"), "s")
        m[f"catalyst.exchanges.{phase}"] = (
            sum(s.attrs.get("exchanges", 0) for s in of("catalyst.plan")) / n, "count")

        exec_names = ("exec.run", "sinks.write", "stream.run")
        ex = [s for s in spans if s.name in exec_names]
        c = counts(ex)
        exec_s = secs(*exec_names)
        m[f"exec.s.{phase}"] = (exec_s, "s")
        for k, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                        ("task_time_s", "s"), ("shuffle_bytes", "bytes"),
                        ("spill_bytes", "bytes"), ("input_bytes", "bytes")):
            m[f"exec.{k}.{phase}"] = (c.get(k, 0) / n, unit)
        m[f"exec.core_util.{phase}"] = (
            c.get("task_time_s", 0.0) / n / (exec_s * cores) if exec_s else 0.0, "ratio")
        m[f"exec.task_skew.{phase}"] = (c.get("task_skew", 1.0), "ratio")
        for s in of("exec.run"):
            key = f"exec.s.{phase}.{s.attrs['query']}"
            m[key] = (m.get(key, (0.0, "s"))[0] + s.duration / n, "s")

        m[f"plans.compile_s.{phase}"] = (secs("plans.compile"), "s")
        m[f"plans.run_s.{phase}"] = (secs("plans.run"), "s")
        m[f"sources.list_s.{phase}"] = (secs("sources.list"), "s")
        reads = [s for s in of("sinks.write") if s.attrs.get("op") != "listing"]
        rc = counts(reads)
        m[f"sources.scan_tasks.{phase}"] = (rc.get("scan_tasks", 0) / len(reads) if reads else 0.0, "count")
        m[f"sources.read_amp.{phase}"] = (
            rc.get("input_bytes", 0) / (tree_bytes * n) if tree_bytes else 0.0, "ratio")
        writes = of("sinks.write")
        m[f"sinks.write_s.{phase}"] = (secs("sinks.write"), "s")
        m[f"sinks.files_written.{phase}"] = (sum(s.attrs.get("files", 0) for s in writes) / n, "count")
        m[f"sinks.bytes_written.{phase}"] = (sum(s.attrs.get("bytes", 0) for s in writes) / n, "bytes")

        progress = [p for s in of("stream.run") for p in s.attrs.get("progress", [])
                    if p.get("numInputRows", 0) > 0]
        ops = [(p.get("stateOperators") or [{}])[0] for p in progress]
        m[f"stream.batches.{phase}"] = (len(progress) / n, "count")
        m[f"stream.trigger_ms.{phase}"] = (
            median([p["durationMs"]["triggerExecution"] for p in progress]) if progress else 0.0, "ms")
        m[f"stream.state_rows.{phase}"] = (max((o.get("numRowsTotal", 0) for o in ops), default=0), "count")
        m[f"stream.state_mem_bytes.{phase}"] = (
            max((o.get("memoryUsedBytes", 0) for o in ops), default=0), "bytes")
        m[f"stream.state_commit_ms.{phase}"] = (
            median([o.get("commitTimeMs", 0) for o in ops]) if ops else 0.0, "ms")
        m[f"stream.rows_dropped_late.{phase}"] = (
            sum(o.get("numRowsDroppedByWatermark", 0) for o in ops) / n, "count")

    for layer, secs_ in sorted(tr.self_times().items()):
        m[f"self_s.{layer}"] = (secs_, "s")
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="default")
    ap.add_argument("--record", help="also write the full run record (JSON) here")
    args = ap.parse_args(argv)

    repo = os.getcwd()
    try:
        preflight(repo)
    except Refused as exc:
        print(f"perfbench: refused: {exc}", file=sys.stderr)
        return 2

    children.exit_on_sigterm()
    children.adopt_orphans()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(repo, ".perfbench_runs", run_id)
    isolate(work, repo)
    sizes = SIZES[args.size]
    load_start, steal_start = os.getloadavg(), steal_s()
    tr = Tracer(run_id) if args.trace else NullTracer()
    spark = None
    try:
        with tr.span("session.start"):
            from batch_process_spark.session import get_spark

            spark = get_spark()
        with tr.span("session.import"):
            import __spark_entry__ as entry
        setup_s = process_age_s()
        tr.attach(spark)
        gc_start = tr.probe.gc_s() if tr.probe else 0.0
        ctx = workloads.Context(spark, entry, tr, args.seed, steady_passes(args.seconds), work, sizes)
        out = WORKLOADS[args.workload](ctx)
        layers = {}
        if tr.probe is not None:
            layers = layer_metrics(tr, out, tr.probe.cores)
            layers["driver.gc_s"] = (tr.probe.gc_s() - gc_start, "s")
            layers["driver.peak_rss_mb"] = (tr.probe.peak_rss_mb(), "MB")
            layers["cache.pinned_bytes"] = (tr.probe.pinned_bytes(), "bytes")
        fp = fingerprint(spark, repo, args, sizes, load_start, steal_start)
    finally:
        if spark is not None:
            try:
                spark.stop()
            except Exception as exc:  # an interrupted run may have lost the JVM's connection
                print(f"perfbench: spark.stop: {type(exc).__name__}: {exc}", file=sys.stderr)
        # the JVM and its Python workers end before this process does
        children.stop_jvm()
        children.reap()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    e2e = {"setup_s": (setup_s, "s"), **out.info}
    for name, (value, unit) in e2e.items():
        print(f"{name} {value!r} {unit}")
    print(f"passes {out.passes + 2} (1 cold + 1 warm-up + {out.passes} steady)")
    for err in out.errors:
        print(f"perfbench: failed: {err}", file=sys.stderr)
    print("fingerprint " + json.dumps(fp, sort_keys=True))
    if args.trace:
        print("layers " + json.dumps({k: {"value": v, "unit": u} for k, (v, u) in layers.items()}))
    chosen = END_TO_END if not args.trace else per_layer_names()
    source = layers if args.trace else e2e
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": source[k][0], "unit": source[k][1]} for k in chosen},
    }
    if args.record:
        record = {"result": result, "end_to_end": e2e, "layers": layers, "errors": out.errors,
                  "ops": {"cold": out.cold, "steady": out.steady},
                  "fingerprint": fp, "spans": [asdict(s) for s in getattr(tr, "spans", [])]}
        # paths inside the checkout are written relative to it
        text = json.dumps(record, indent=1, default=str).replace(repo + os.sep, "." + os.sep)
        with open(args.record, "w") as fh:
            fh.write(text)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
