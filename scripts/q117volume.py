"""q117 volume cell (VERDICT r13 item 3): run q117_prefix_filter_join
on the near-cap group fixture (spantier.synth_nearcap — n/10
groups of 10 identical 48-word docs, so every group emits its full
45-pair clique and every prefix token collides exactly group-wide) at
one or more sizes, 1 warm + 3 steady noop trials each, and record the
wall, the result-row count (closed form: 4.5 x n), and the actual
enumeration/verify stage widths from the event log. Doubling sizes
should double the wall (the PPJoin length filter and the df-bounded
fixture keep the candidate stream linear in n).

Usage: python scripts/q117volume.py <out.json> [sizes...]
defaults: sizes = 250000 500000 1000000
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])


def main() -> None:
    out_path = sys.argv[1]
    sizes = [int(float(s)) for s in sys.argv[2:]] or [250_000, 500_000, 1_000_000]

    import os

    from batch_process_spark.session import get_spark
    from scripts.spantier import synth_nearcap

    import __spark_entry__ as entry

    spark = get_spark("q117volume")
    qs = entry.queries()
    q = qs["q117_prefix_filter_join"]

    report: dict = {"fixture": "spantier.synth_nearcap", "cells": []}
    for n in sizes:
        path = f"/tmp/spanskew_{n}"
        if not os.path.isdir(f"{path}/documents.parquet"):
            synth_nearcap(spark, n, path)
        spark.sparkContext.setJobDescription(f"q117volume n={n} warm")
        t0 = time.time()
        q(spark, path).write.format("noop").mode("overwrite").save()
        warm = round(time.time() - t0, 1)
        walls = []
        for i in range(3):
            spark.sparkContext.setJobDescription(f"q117volume n={n} trial {i}")
            t0 = time.time()
            q(spark, path).write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 1))
        rows = q(spark, path).count()
        cell = {
            "n_docs": n,
            "warm": warm,
            "steady": walls,
            "min": min(walls),
            "rows": rows,
            "rows_expected": 45 * (n // 10),
        }
        report["cells"].append(cell)
        print(f"# n={n}: warm {warm}s steady {walls} rows {rows}", file=sys.stderr)
    with open(out_path, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
