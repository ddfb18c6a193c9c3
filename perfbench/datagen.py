"""Seeded input generators for the benchmark.

Everything here is pure numpy/pyarrow: no Spark session, no clock, no
environment. The same ``seed`` (and size arguments) gives byte-identical
files, so a run's inputs are fixed by its command line.

- ``write_catalog_tables`` — the ten star-schema tables the catalog
  queries read (``region nation customer supplier part orders lineitem
  events documents embeddings``), one parquet file each, with the
  schemas and value ranges of the engine's test data at scale ``sf``.
- ``write_file_tree`` — a directory tree of small txt/csv/json numeric
  files and blade-load ``.out`` reports; returns the counts the
  generator knows, which the tree checks compare against.
- ``write_event_slices`` — timestamped events split into parquet
  slices that a streaming source picks up one at a time.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "old", "small", "red", "new", "cold"]
_PART_NOUN = ["ring", "bolt", "plate", "gear", "rod", "widget", "gizmo", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the engine's test data; no
    # creation-time metadata so the bytes depend on the seed alone
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def write_catalog_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten catalog tables under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    keys = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _round2(rng.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _US_PER_DAY),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _round2(rng.uniform(900.0, 105_000.0, n_line)),
        "l_discount": _round2(rng.uniform(0.0, 0.1, n_line)),
        "l_tax": _round2(rng.uniform(0.0, 0.08, n_line)),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_EPOCH_1995 + (1 + rng.integers(0, 2499, n_line)) * _US_PER_DAY),
    })
    ev_ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _US_PER_DAY, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _round2(rng.exponential(50.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    tables["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_vecs, dtype=np.int32)),
    })
    for name in CATALOG_TABLES:
        _write(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return {name: tables[name].num_rows for name in CATALOG_TABLES}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents with planted near-duplicates: 5% of the
    documents copy an earlier one and append the word ``dup``, which the
    dedup and span-attribution queries are built to find."""
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]) for _ in range(n)]
    n_dups = n // 20
    targets = rng.choice(np.arange(1, n), size=n_dups, replace=False)
    for t in sorted(targets):
        texts[t] = texts[int(rng.integers(0, t))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


# ---------------------------------------------------------------------------
# directory tree
# ---------------------------------------------------------------------------


@dataclass
class TreeManifest:
    """What the generator knows about the tree it wrote."""

    root: str
    n_dirs: int = 0
    files_per_dir: dict[str, int] = field(default_factory=dict)  # "g/r" -> files
    numeric_files: dict[str, int] = field(default_factory=dict)  # relpath -> n values
    line_counts: dict[str, int] = field(default_factory=dict)  # relpath -> lines (txt)
    reports: int = 0
    blocks_per_report: int = 0
    tree_bytes: int = 0

    @property
    def n_files(self) -> int:
        return sum(self.files_per_dir.values())

    @property
    def blade_rows(self) -> int:
        # one MEAN and one 1/2 PEAK-TO-PEAK row per block
        return self.reports * self.blocks_per_report * 2


def _txt(rng: np.random.Generator) -> tuple[str, int]:
    vals = _round2(rng.uniform(-100, 100, int(rng.integers(5, 40))))
    lines = ["# generated numeric text"]
    for i in range(0, len(vals), 5):
        chunk = [f"{v:.2f}" for v in vals[i : i + 5]]
        lines.append((", " if i % 10 else " ").join(chunk) + (" n/a" if i % 15 == 0 else ""))
    return "\n".join(lines) + "\n", len(vals)


def _csv(rng: np.random.Generator) -> tuple[str, int]:
    rows = int(rng.integers(3, 25))
    vals = _round2(rng.uniform(0, 1000, rows))
    body = "\n".join(f"{v:.2f},{'xyz'[int(rng.integers(0, 3))]}" for v in vals)
    return "value,label\n" + body + "\n", rows


def _json(rng: np.random.Generator) -> tuple[str, int]:
    vals = [float(v) for v in _round2(rng.uniform(-50, 50, int(rng.integers(3, 30))))]
    return json.dumps({"values": vals}), len(vals)


def _report(rng: np.random.Generator, blocks: int) -> str:
    lines = [
        " ROTOR 1",
        f" RADIUS (M) =  {rng.uniform(5, 10):.2f}",
        f" ... ROTATIONAL SPEED (RPM) =  {rng.uniform(200, 300):.1f}",
        " COUNTER ROTATION DIRECTION",
        " OPERATING CONDITION",
    ]
    for b in range(blocks):
        station = (b + 1) / (blocks + 1)
        lines.append(f" OUTPUT = ROTOR 1 BLADE {1 + b % 4} LOAD {station:.4f}R F")
        for kind in ("MEAN     ", "MAXIMUM  ", "MINIMUM  ", "1/2 PEAK-TO-PEAK "):
            lines.append(f" {kind} " + " ".join(f"{v:.3f}" for v in rng.uniform(-90, 90, 6)))
        for psi in range(0, 360, 90):
            lines.append(f" PSI =  {psi:.1f} " + " ".join(f"{v:.3f}" for v in rng.uniform(-9, 9, 6)))
    return "\n".join(lines) + "\n"


def write_file_tree(
    root: str,
    seed: int,
    groups: int = 3,
    runs: int = 4,
    files_per_run: int = 6,
    blocks_per_report: int = 8,
) -> TreeManifest:
    """Write ``groups x runs`` leaf directories, each holding
    ``files_per_run`` numeric files (txt/csv/json, seeded mix) and one
    blade-load report."""
    rng = np.random.default_rng(seed)
    man = TreeManifest(root=root, blocks_per_report=blocks_per_report)
    makers = {"txt": _txt, "csv": _csv, "json": _json}
    for g in range(groups):
        for r in range(runs):
            rel_dir = f"g{g}/r{r}"
            os.makedirs(os.path.join(root, rel_dir), exist_ok=True)
            for i in range(files_per_run):
                ext = ("txt", "csv", "json")[int(rng.integers(0, 3))]
                text, n_vals = makers[ext](rng)
                rel = f"{rel_dir}/f{i:03d}.{ext}"
                man.numeric_files[rel] = n_vals
                if ext == "txt":
                    man.line_counts[rel] = len(text.split("\n"))
                _put(os.path.join(root, rel), text, man)
            _put(os.path.join(root, rel_dir, "loads.out"), _report(rng, blocks_per_report), man)
            man.reports += 1
            man.files_per_dir[rel_dir] = files_per_run + 1
    man.n_dirs = groups + groups * runs
    return man


def _put(path: str, text: str, man: TreeManifest) -> None:
    data = text.encode()
    with open(path, "wb") as fh:
        fh.write(data)
    man.tree_bytes += len(data)


# ---------------------------------------------------------------------------
# event slices for the streaming source
# ---------------------------------------------------------------------------

EVENT_SCHEMA = "ts timestamp, key long, value double"


def write_event_slices(
    stage_dir: str, seed: int, slices: int, events_per_slice: int, keys: int = 50
) -> list[str]:
    """Write ``slices`` parquet files of in-order events; slice ``i``
    covers hours [2i, 2i+2) after 2024-01-01, so each slice closes
    windows the watermark can finalize. Returns the file paths."""
    os.makedirs(stage_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    span = 2 * 3600 * 1_000_000
    paths = []
    for i in range(slices):
        ts = np.sort(_EPOCH_2024 + i * span + rng.integers(0, span, events_per_slice))
        table = pa.table({
            "ts": _ts(ts),
            "key": rng.integers(0, keys, events_per_slice, dtype=np.int64),
            "value": _round2(rng.exponential(50.0, events_per_slice)),
        })
        path = os.path.join(stage_dir, f"slice{i:04d}.parquet")
        _write(table, path)
        paths.append(path)
    return paths
