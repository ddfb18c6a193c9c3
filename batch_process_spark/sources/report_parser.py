"""Fixed-format engineering-report parser (S10).

Re-expresses the reference's blade-load report extraction
(``test/blade_load_extract/plugins/process_blade_load.py:83-138``,
``:151-213``, ``:382-422``) Spark-first: the same regex field grammar,
built on the struct-text combinators, run per file inside
``mapInPandas``, emitting the long table directly (one row per
(rotor, blade, station, load_kind) instead of the reference's pandas
MultiIndex assembly).

Report block shape (FIXTURES.md §4):

     ROTOR 1
     RADIUS (M) =  8.20
     ... ROTATIONAL SPEED (RPM) =  258.0
     COUNTER ROTATION DIRECTION
     OUTPUT = ROTOR 1 BLADE 2 LOAD 0.25R F
     MEAN      m1 m2 m3 m4 m5 m6
     MAXIMUM   x1 x2 x3 x4 x5 x6
     MINIMUM   n1 n2 n3 n4 n5 n6
     1/2 PEAK-TO-PEAK  p1 p2 p3 p4 p5 p6
     PSI =  0.0 v1 v2 v3 v4 v5 v6
"""

from __future__ import annotations

import re
from typing import Iterator, Sequence

LOAD_COLS = [
    "torque",
    "flap_moment",
    "lag_moment",
    "axial_force",
    "chord_force",
    "normal_force",
]

_NUM = r"(-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
_SIX = r"\s+".join([_NUM] * 6)

_RX_ROTOR = re.compile(r"^\s*ROTOR\s+(\d+)\s*$")
_RX_RADIUS = re.compile(rf"RADIUS\s*\(M\)\s*=\s*{_NUM}")
_RX_RPM = re.compile(rf"ROTATIONAL\s+SPEED\s*\(RPM\)\s*=\s*{_NUM}")
_RX_ROTATION = re.compile(r"^\s*(COUNTER|NORMAL)\s+ROTATION\s+DIRECTION")
_RX_OUTPUT = re.compile(rf"^\s*OUTPUT\s*=\s*ROTOR\s+(\d+)\s+BLADE\s+(\d+)\s+LOAD\s+{_NUM}R")
_RX_STAT = re.compile(rf"^\s*(MEAN|MAXIMUM|MINIMUM|1/2\s+PEAK-TO-PEAK)\s+{_SIX}")
_RX_PSI = re.compile(rf"^\s*PSI\s*=\s*{_NUM}\s+{_SIX}")

LONG_SCHEMA = (
    "rotor int, blade int, radius double, rpm double, rotation string, "
    "load_kind string, station_r double, "
    + ", ".join(f"{c} double" for c in LOAD_COLS)
)

PSI_SCHEMA = (
    "rotor int, blade int, station_r double, psi double, "
    + ", ".join(f"{c} double" for c in LOAD_COLS)
)


def parse_blade_load_text(text: str) -> tuple[list[dict], list[dict]]:
    """Parse one report into (stat_rows, psi_rows).

    stat_rows: per (rotor, blade, station) two long-table rows —
    ``mean`` (static load) and ``amplitude`` (1/2 peak-to-peak, the
    dynamic load), mirroring the reference's A9 assembly. psi_rows:
    per-azimuth samples (A10's per-key regrouping becomes ordinary
    key columns).
    """
    rotor_meta: dict[int, dict] = {}
    current_rotor = None
    block = None  # (rotor, blade, station)
    stats: dict[tuple, dict[str, list[float]]] = {}
    psi_rows: list[dict] = []

    for line in text.splitlines():
        m = _RX_ROTOR.match(line)
        if m:
            current_rotor = int(m.group(1))
            rotor_meta.setdefault(current_rotor, {})
            continue
        if current_rotor is not None:
            m = _RX_RADIUS.search(line)
            if m:
                rotor_meta[current_rotor]["radius"] = float(m.group(1))
                continue
            m = _RX_RPM.search(line)
            if m:
                rotor_meta[current_rotor]["rpm"] = float(m.group(1))
                continue
            m = _RX_ROTATION.match(line)
            if m:
                rotor_meta[current_rotor]["rotation"] = m.group(1).lower()
                continue
        m = _RX_OUTPUT.match(line)
        if m:
            block = (int(m.group(1)), int(m.group(2)), float(m.group(3)))
            stats.setdefault(block, {})
            continue
        if block is not None:
            m = _RX_STAT.match(line)
            if m:
                kind = re.sub(r"\s+", " ", m.group(1))
                stats[block][kind] = [float(x) for x in m.groups()[1:7]]
                continue
            m = _RX_PSI.match(line)
            if m:
                vals = [float(x) for x in m.groups()]
                psi_rows.append(
                    {
                        "rotor": block[0],
                        "blade": block[1],
                        "station_r": block[2],
                        "psi": vals[0],
                        **dict(zip(LOAD_COLS, vals[1:7])),
                    }
                )
                continue

    stat_rows: list[dict] = []
    for (rotor, blade, station), kinds in stats.items():
        meta = rotor_meta.get(rotor, {})
        base = {
            "rotor": rotor,
            "blade": blade,
            "radius": meta.get("radius"),
            "rpm": meta.get("rpm"),
            "rotation": meta.get("rotation"),
            "station_r": station,
        }
        if "MEAN" in kinds:
            stat_rows.append(
                {**base, "load_kind": "mean", **dict(zip(LOAD_COLS, kinds["MEAN"]))}
            )
        if "1/2 PEAK-TO-PEAK" in kinds:
            stat_rows.append(
                {
                    **base,
                    "load_kind": "amplitude",
                    **dict(zip(LOAD_COLS, kinds["1/2 PEAK-TO-PEAK"])),
                }
            )
    return stat_rows, psi_rows


def parse_blade_load_files(
    df,
    text_col: str = "text",
    id_cols: Sequence[str] = ("path",),
    psi: bool = False,
):
    """Run the report parser over (id_cols..., text) rows -> long table.

    1->N row expansion via Arrow batches. A malformed file (one whose
    text makes ``parse_blade_load_text`` raise) is dropped: it yields
    zero rows, does not fail the job, and is not counted anywhere.
    A counted error output is ROADMAP item I.
    """
    import pandas as pd

    id_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    body_schema = PSI_SCHEMA if psi else LONG_SCHEMA
    full = ", ".join(f"{c} {id_types[c]}" for c in id_cols) + ", " + body_schema
    body_cols = [s.strip().split(" ")[0] for s in body_schema.split(",")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            frames = []
            for _, row in pdf.iterrows():
                try:
                    stat_rows, psi_rows = parse_blade_load_text(row[text_col] or "")
                except Exception:
                    continue  # malformed file -> no rows
                rows = psi_rows if psi else stat_rows
                if not rows:
                    continue
                f = pd.DataFrame(rows)
                for c in id_cols:
                    f[c] = row[c]
                frames.append(f)
            if frames:
                out = pd.concat(frames, ignore_index=True)
                for c in body_cols:
                    if c not in out.columns:
                        out[c] = None
                yield out[[*id_cols, *body_cols]]
            else:
                yield pd.DataFrame(columns=[*id_cols, *body_cols])

    return df.mapInPandas(batches, schema=full)
