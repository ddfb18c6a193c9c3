"""Slow-tier span regression cell (VERDICT r12 item 8; protocol
hardened r14 per VERDICT r13 item 5).

The 1M-doc span-family numbers (§5af/§5ah) live above the sf0.1 bench's
radar: a memo / exchange-sizing regression would not show in BENCH_rN.
This runner executes a WARM-FIRST protocol: TWO warm runs (the first
builds the memo, the second retires the C2-JIT warm-up that r13
measured as a 4-5x per-stage effect on first executions — per-stage
task-seconds fell 7535 -> 5985 -> 1445 across identical runs), then
SIX timed steady trials through the noop sink, and writes ONE
committed JSON (spantier_r<N>.json) so round-over-round drift is
diffable. The r13 2.6x trial band made regressions mushy; the
warm-first 6-trial min is the gate number, band target < 1.5.

Usage:
    python scripts/spantier.py <out.json> [n_docs] [query ...]
defaults: n_docs=1000000, queries=q219_span_attribution q247_span_containment

The fixture lives at <tempdir>/spanskew_<n> (``nearcap_fixture`` below):
it is reused only when its ``fixture.json`` marker holds the current
generator parameters, and otherwise written under a temp name and
renamed into place once complete. Run on an idle host; each query gets
a fresh memo (the queries share the occurrence frame, so q247 after
q219 rides the warm cache — that IS the production shape and is what
we pin).
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORDS = 48  # words per document: 41 distinct 8-word spans each
GROUP = 10  # = the span queries' df cap: every span sits exactly AT it
MARKER = "fixture.json"


def _alpha(i: int) -> str:
    """Bijective base-26 letters for ``i`` (a, b, ..., z, ba, ...)."""
    s = ""
    i = int(i)
    while True:
        s = chr(ord("a") + i % 26) + s
        i //= 26
        if i == 0:
            return s


def synth_nearcap(spark, n: int, path: str) -> None:
    """Write ``path``/documents.parquet: n/GROUP groups of GROUP
    identical WORDS-word documents with no span shared across groups,
    so every span survives the df cap at maximal fan-out."""
    import pandas as pd

    assert n % GROUP == 0

    def gen(it):
        for pdf in it:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                g = i // GROUP
                rows.append((i, " ".join(
                    f"g{_alpha(g)}x{_alpha(j)}" for j in range(WORDS)
                )))
            yield pd.DataFrame(rows, columns=["doc_id", "text"])

    (
        spark.range(n)
        .repartition(32)
        .mapInPandas(gen, schema="doc_id long, text string")
        .write.mode("overwrite")
        .parquet(f"{path}/documents.parquet")
    )


def fixture_is_current(path: str, params: dict) -> bool:
    """A fixture is reused only when its marker holds ``params``."""
    try:
        with open(os.path.join(path, MARKER)) as fh:
            marked = json.load(fh)
    except (OSError, ValueError):
        return False
    return marked == params and os.path.isdir(os.path.join(path, "documents.parquet"))


def ensure_fixture(path: str, params: dict, write) -> str:
    """Return ``path``, first rebuilding it unless it is current:
    ``write(tmp)`` fills a temp dir, the marker goes in last, and the
    dir is renamed into place, so a cut-short write is never reused."""
    if fixture_is_current(path, params):
        return path
    tmp = f"{path}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        write(tmp)
        with open(os.path.join(tmp, MARKER), "w") as fh:
            json.dump(params, fh)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def nearcap_fixture(spark, n: int) -> str:
    """The ``synth_nearcap`` fixture of ``n`` docs under the temp dir."""
    params = {"generator": "spantier.synth_nearcap", "n_docs": n, "words": WORDS, "group": GROUP}
    path = os.path.join(tempfile.gettempdir(), f"spanskew_{n}")
    return ensure_fixture(path, params, lambda d: synth_nearcap(spark, n, d))


def main() -> None:
    out_path = sys.argv[1]
    n = int(float(sys.argv[2])) if len(sys.argv) > 2 else 1_000_000
    names = sys.argv[3:] or ["q219_span_attribution", "q247_span_containment"]

    from batch_process_spark.session import get_spark

    spark = get_spark("spantier")
    path = nearcap_fixture(spark, n)

    import __spark_entry__ as entry

    qs = entry.queries()
    report: dict = {"n_docs": n, "trials": 6, "warm_runs": 2, "queries": {}}
    for name in names:
        q = qs[name]
        warms = []
        # two warm runs: #1 builds the memo, #2 retires C2-JIT warm-up
        # (r13: 4-5x per-stage effect on the first executions)
        for i in range(2):
            spark.sparkContext.setJobDescription(f"spantier {name} warm {i}")
            t0 = time.time()
            q(spark, path).write.format("noop").mode("overwrite").save()
            warms.append(round(time.time() - t0, 1))
        walls = []
        for i in range(6):
            spark.sparkContext.setJobDescription(f"spantier {name} trial {i}")
            t0 = time.time()
            q(spark, path).write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 1))
        report["queries"][name] = {
            "warm": warms,
            "steady": walls,
            "min": min(walls),
            "max": max(walls),
            "band": round(max(walls) / min(walls), 2),
        }
        print(f"# {name}: warm {warms} steady {walls}", file=sys.stderr)
    with open(out_path, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
