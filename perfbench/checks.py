"""Output checks, run outside every timed region.

A result table is compared as a multiset of rows after normalising each
cell: floats to 6 significant figures, timestamps to ISO strings,
lists element-wise, NULL/NaN to ``None``. Column names are compared as
a set and row counts exactly. These are the rules of the repository's
DuckDB self-check, made order-insensitive.

Every check returns a list of error strings (empty = correct) instead of
raising, so the caller counts each mismatch as one failed operation and
reports its text.
"""

from __future__ import annotations

import math
from collections import Counter
from typing import Any, Iterable, Sequence

import numpy as np


def norm_cell(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return None
        # ints stored as doubles compare equal to the int form
        return float(f"{f:.6g}")
    if hasattr(v, "isoformat"):  # datetime, date, pandas Timestamp
        return v.isoformat()
    if isinstance(v, np.ndarray):
        return tuple(norm_cell(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm_cell(x)) for k, x in v.items()))
    return str(v)


def _na_to_none(v: Any) -> Any:
    try:
        import pandas as pd

        if v is pd.NaT or (not isinstance(v, (list, tuple, np.ndarray, dict)) and pd.isna(v)):
            return None
    except (TypeError, ValueError):
        pass
    return v


def norm_rows(columns: Sequence[str], rows: Iterable[Sequence[Any]]) -> Counter:
    """Multiset of normalised rows, cells ordered by column name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return Counter(
        tuple(norm_cell(_na_to_none(row[i])) for i in order) for row in rows
    )


def compare_tables(
    got_cols: Sequence[str],
    got_rows: Sequence[Sequence[Any]],
    want_cols: Sequence[str],
    want_rows: Sequence[Sequence[Any]],
) -> list[str]:
    errs = []
    if len(got_rows) != len(want_rows):
        errs.append(f"row count {len(got_rows)} != expected {len(want_rows)}")
    if sorted(got_cols) != sorted(want_cols):
        errs.append(f"columns {sorted(got_cols)} != expected {sorted(want_cols)}")
    if not errs:
        got, want = norm_rows(got_cols, got_rows), norm_rows(want_cols, want_rows)
        if got != want:
            extra = list((got - want).elements())[:2]
            missing = list((want - got).elements())[:2]
            errs.append(f"values differ: unexpected {extra}, missing {missing}")
    return errs


def pandas_rows(pdf) -> tuple[list[str], list[tuple]]:
    return list(pdf.columns), list(pdf.itertuples(index=False, name=None))


class Oracle:
    """DuckDB over the generated parquet tables, one view per table."""

    def __init__(self, data_dir: str, tables: Sequence[str]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.sql(sql)
        return list(res.columns), res.fetchall()

    def close(self) -> None:
        self.con.close()
