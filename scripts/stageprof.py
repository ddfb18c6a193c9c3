"""Per-query stage profile: run named queries (noop sink, warm + timed
trial) with event logging and report each query's slowest stages —
wall, task count, summed task time — to spot single-task collapses and
stragglers (guide §2.5/§7.1) without the UI.

Usage: python scripts/stageprof.py <sf_dir> q169_pagerank [q174_... ...]
"""

from __future__ import annotations

import glob
import io
import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")


def read_events(app_id: str):
    # rolling event-log layout (Spark 4 default); fall back to the
    # single-file layout when rolling is disabled (ADVICE r13)
    base = f"/tmp/spark-events/eventlog_v2_{app_id}"
    candidates = glob.glob(f"{base}/events_*") or glob.glob(
        f"/tmp/spark-events/{app_id}*"
    )
    if not candidates:
        raise FileNotFoundError(
            f"no event log for {app_id}: neither {base}/events_* nor "
            f"/tmp/spark-events/{app_id}* exists"
        )
    path = candidates[0]
    if path.endswith(".zstd"):
        import subprocess

        out = subprocess.run(["zstd", "-dc", path], capture_output=True, check=True)
        fh = io.StringIO(out.stdout.decode())
    else:
        fh = open(path)
    for line in fh:
        try:
            yield json.loads(line)
        except Exception:  # noqa: BLE001
            continue


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs("/tmp/spark-events", exist_ok=True)

    from batch_process_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark(
        "stageprof",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "/tmp/spark-events",
        },
    )
    sc = spark.sparkContext
    qs = entry.queries()

    # job-id window per query (warm trial excluded)
    windows = {}
    for name in names:
        fn = qs[name]
        sc.setJobDescription(f"{name} warm")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        lo = int(sc._jsc.sc().dagScheduler().nextJobId())
        sc.setJobDescription(f"{name} timed")
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        hi = int(sc._jsc.sc().dagScheduler().nextJobId())
        windows[name] = (lo, hi, wall)
    app_id = sc.applicationId
    spark.stop()

    # map stages -> jobs -> query windows
    stage_job = {}
    stages = {}
    for e in read_events(app_id):
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            m = e.get("Task Metrics") or {}
            s = stages.setdefault(sid, {"n": 0, "run": 0.0, "maxrun": 0.0})
            r = m.get("Executor Run Time", 0) / 1000.0
            s["n"] += 1
            s["run"] += r
            s["maxrun"] = max(s["maxrun"], r)

    for name, (lo, hi, wall) in windows.items():
        mine = [
            (sid, s)
            for sid, s in stages.items()
            if lo <= stage_job.get(sid, -1) < hi
        ]
        mine.sort(key=lambda kv: -kv[1]["run"])
        print(f"\n== {name}: wall {wall:.1f}s, {len(mine)} stages")
        for sid, s in mine[:5]:
            print(
                f"   stage {sid}: tasks {s['n']}, sum-run {s['run']:.1f}s, "
                f"max-task {s['maxrun']:.1f}s"
            )


if __name__ == "__main__":
    main()
