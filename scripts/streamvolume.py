"""Stateful-streaming volume probe (VERDICT r13 item 7): run the
engine's watermarked tumbling-window aggregation
(``streaming/windows.tumbling_window_agg`` — the q99/q37 operator) as
a REAL stream over 10M+ synthesized events arriving in four
micro-batches, and record per-batch throughput and state-store
metrics from the StreamingQueryProgress feed. The scoped-conf state
sizing (r11) was plan-audited but never volume-proven; this cell is
the committed evidence.

Fixture: n events, 1000 users, one event per second per stream
second across a 30-day window (deterministic ts/user/value from the
row id), written as 4 parquet slices under /tmp/streamvol_<n>. The
aggregation keys on (window(1 hour), user_id % 50) with a 30-minute
watermark — wide enough state (24*30*50 groups) to exercise the
store, bounded so the probe is about throughput, not spill.

Usage: python scripts/streamvolume.py <out.json> [n_events] [state_partitions]
defaults: n_events=10_000_000, state_partitions=32
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_path = sys.argv[1]
    n = int(float(sys.argv[2])) if len(sys.argv) > 2 else 10_000_000
    parts = int(sys.argv[3]) if len(sys.argv) > 3 else 32

    import shutil

    from pyspark.sql import functions as F

    from batch_process_spark.session import get_spark
    from batch_process_spark.streaming.windows import drain_all, tumbling_window_agg

    spark = get_spark("streamvolume")
    base = f"/tmp/streamvol_{n}"
    slices = 4
    if not os.path.isdir(f"{base}/slice_ready"):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(f"{base}/stage", exist_ok=True)
        for s in range(slices):
            lo, hi = n * s // slices, n * (s + 1) // slices
            (
                spark.range(lo, hi)
                .select(
                    F.timestamp_seconds(
                        F.lit(1704067200) + (F.col("id") % (30 * 86400))
                    ).alias("ts"),
                    (F.col("id") % 1000).alias("user_id"),
                    ((F.col("id") * 7) % 1000 / 10.0).alias("value"),
                )
                .repartition(8)
                .write.mode("overwrite")
                .parquet(f"{base}/stage/slice{s}")
            )
        os.makedirs(f"{base}/slice_ready", exist_ok=True)
    os.makedirs(f"{base}/in", exist_ok=True)

    def feed(s: int) -> None:
        for f in os.listdir(f"{base}/stage/slice{s}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{base}/stage/slice{s}/{f}", f"{base}/in/s{s}_{f}")

    # fresh input dir per run
    shutil.rmtree(f"{base}/in", ignore_errors=True)
    os.makedirs(f"{base}/in", exist_ok=True)
    feed(0)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        stream = (
            spark.readStream.schema("ts timestamp, user_id long, value double")
            .format("parquet")
            .option("maxFilesPerTrigger", "8")
            .load(f"{base}/in")
        )
        out = tumbling_window_agg(
            stream.withColumn("ugrp", F.col("user_id") % 50),
            width="1 hour",
            keys=["ugrp"],
            watermark="30 minutes",
        )
        t0 = time.time()
        q = (
            out.writeStream.format("noop")
            .option("checkpointLocation", f"{base}/ckpt_{int(t0)}")
            .outputMode("update")
            .start()
        )
        try:
            drain_all(q)
            for s in range(1, slices):
                feed(s)
                drain_all(q)
            wall = time.time() - t0
            # recentProgress yields StreamingQueryProgress objects on
            # Spark 4 (raw JSON strings on some older lines)
            progress = [
                json.loads(p if isinstance(p, (str, bytes)) else p.json)
                for p in q.recentProgress
            ]
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    batches = []
    for p in progress:
        if p.get("numInputRows", 0) == 0:
            continue
        so = (p.get("stateOperators") or [{}])[0]
        batches.append(
            {
                "batch": p["batchId"],
                "input_rows": p["numInputRows"],
                "process_rows_per_s": p.get("processedRowsPerSecond"),
                "batch_duration_ms": (p.get("durationMs") or {}).get("triggerExecution"),
                "state_rows_total": so.get("numRowsTotal"),
                "state_rows_updated": so.get("numRowsUpdated"),
                "state_mem_bytes": so.get("memoryUsedBytes"),
                "shuffle_partitions": parts,
            }
        )
    total_rows = sum(b["input_rows"] for b in batches)
    report = {
        "n_events": n,
        "state_partitions": parts,
        "wall_s": round(wall, 1),
        "rows_per_s_overall": round(total_rows / wall),
        "batches": batches,
    }
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
