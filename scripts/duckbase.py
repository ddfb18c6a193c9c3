"""Re-measure the DuckDB baseline on THIS host: runs the oracle SQL of
every bench query (min-of-N) against the sf parquet tables and prints
one JSON line. BASELINE.md §3 requires same-host comparison each round.
Usage: python scripts/duckbase.py [trials]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402


def main() -> None:
    trials = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from bench import BENCH_QUERIES

    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    timings = {}
    for name in BENCH_QUERIES:
        sql = oracles[name]
        runs = []
        for _ in range(trials):
            t0 = time.time()
            con.execute(sql).fetchall()
            runs.append(time.time() - t0)
        timings[name] = round(min(runs), 3)
    total = round(sum(timings.values()), 3)
    print(json.dumps({"engine": "duckdb", "total": total, "queries": timings, "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
