"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry at the given sf dir, runs the matching
``oracle_sql()`` in DuckDB on the same parquet tables, and compares:
row count, column-name set, and STRICT driver-style values.

The driver materializes both sides to pandas, sorts by all columns, and
hashes the values — so dtype matters (DuckDB HUGEINT -> float64 "123.0"
vs Spark int64 "123" mismatches; round-1 q14/q21/q38/q45), and a
collection-typed column crashes its sort (round-1 q07). This replica
does the same: ``toPandas()`` / ``.df()``, ``sort_values`` over every
column, and cell-level ``astype(str)`` comparison — NOT the lenient
``%.6g`` normalization of round 1, which masked both failure modes.

Usage: python scripts/selfcheck.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_pandas(pdf):
    """Driver-style canonical form: sort columns by name, sort rows by
    all columns (crashes on collection columns, as the driver does),
    stringify cells dtype-sensitively (int64 123 != float64 123.0)."""
    pdf = pdf[sorted(pdf.columns)].reset_index(drop=True)
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return [tuple(str(v) for v in row) for row in pdf.itertuples(index=False)]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from batch_process_spark.session import get_spark

    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows-only {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            n_rowsonly += 1
            continue
        try:
            res = con.sql(oracles[name])
            ocols = res.columns
            opdf = res.df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        errs = []
        if len(spdf) != len(opdf):
            errs.append(f"rowcount spark={len(spdf)} duckdb={len(opdf)}")
        if sorted(scols) != sorted(ocols):
            errs.append(f"schema spark={sorted(scols)} duckdb={sorted(ocols)}")
        if not errs:
            try:
                sc = canon_pandas(spdf)
            except Exception as e:
                errs.append(f"driver-canon crash on SPARK side (collection col?): {e!r:.200}")
                sc = None
            try:
                oc = canon_pandas(opdf)
            except Exception as e:
                errs.append(f"driver-canon crash on ORACLE side: {e!r:.200}")
                oc = None
            if sc is not None and oc is not None and sc != oc:
                diffs = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
                errs.append(f"values differ; first diffs: {diffs}")
        if errs:
            print(f"FAIL {name}: " + "; ".join(errs))
            n_fail += 1
        else:
            print(f"PASS {name}: {len(spdf)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
