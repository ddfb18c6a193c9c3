"""Whole-catalog timing sweep: run EVERY ``queries()`` entry at the
given sf dir through the noop sink (guide §1.4), 1 cold + N steady
trials, and print a JSON report sorted slowest-first.

This is the round-13 "optimize every operator" discovery pass: the
bench times 18 headline queries; the other ~229 catalog queries are
oracle-checked for correctness every round but never individually
wall-timed at sf0.1.  A regression (or an always-been-slow plan) in an
off-bench query is invisible to BENCH_rNN.json — this sweep surfaces
the top offenders so their plans can be audited.

Usage: python scripts/catalogtime.py [sf_dir] [steady_trials] [out.json]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    # ADVICE r13: guard trials >= 1 so min(runs[1:]) never sees an
    # empty slice (steady falls back to the cold run at trials=0).
    trials = max(1, int(sys.argv[2])) if len(sys.argv) > 2 else 2
    out = sys.argv[3] if len(sys.argv) > 3 else "/tmp/catalogtime.json"

    import __spark_entry__ as entrymod
    from batch_process_spark.session import get_spark

    spark = get_spark("catalogtime")
    qs = entrymod.queries()

    rows = {}
    errs = {}
    for name, fn in qs.items():
        spark.sparkContext.setJobDescription(f"catalogtime:{name}")
        runs = []
        try:
            for _ in range(1 + trials):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(round(time.time() - t0, 3))
        except Exception as exc:  # noqa: BLE001 - report, keep sweeping
            errs[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        rows[name] = {"cold": runs[0], "steady": min(runs[1:]), "runs": runs}
        print(f"# {name}: steady {min(runs[1:]):.3f}s cold {runs[0]:.3f}s", file=sys.stderr)
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001
            pass

    ranked = sorted(rows.items(), key=lambda kv: -kv[1]["steady"])
    report = {
        "sf_dir": sf_dir,
        "n": len(rows),
        "errors": errs,
        "total_steady": round(sum(v["steady"] for v in rows.values()), 3),
        "slowest": [
            {"query": k, **v} for k, v in ranked[:40]
        ],
        "all": {k: v["steady"] for k, v in ranked},
    }
    with open(out, "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({"n": len(rows), "errors": len(errs),
                      "total_steady": report["total_steady"],
                      "top5": [(r["query"], r["steady"]) for r in report["slowest"][:5]]}))
    spark.stop()


if __name__ == "__main__":
    main()
