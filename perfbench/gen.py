"""Seeded input generators: JSON-lines documents for the convert and
stream workloads.

Everything is a pure function of the seed, so one seed gives the same
inputs on every machine. Value domains follow FIXTURES.md (battery and
trip bounds).
"""

from __future__ import annotations

import numpy as np

TRIP_FIELDS = (
    ("timestamp", "ts", None),
    ("timezone", "int", None),
    ("vin", "int", None),
    ("odometer", "int", None),
    ("hypermiling", "bool", None),
    ("avgspeed", "int", None),
    ("sec_in_band", "list", 12),
    ("miles_in_time_range", "list", 24),
    ("const_speed_miles_in_band", "list", 12),
    ("vary_speed_miles_in_band", "list", 12),
    ("sec_decel", "list", 10),
    ("sec_accel", "list", 10),
    ("braking", "list", 6),
    ("accel", "list", 6),
    ("orientation", "bool", None),
    ("small_speed_var", "list", 13),
    ("large_speed_var", "list", 13),
    ("accel_decel", "int", None),
    ("speed_changes", "int", None),
)


def battery_lines(n: int, seed: int) -> list[bytes]:
    """``{"voltage": [...]}`` lines: 1..16 items, each 0..2047."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(1, 17, n)
    vals = rng.integers(0, 2048, int(lens.sum())).tolist()
    out = []
    off = 0
    for ln in lens.tolist():
        out.append(
            ('{"voltage":[' + ",".join(map(str, vals[off : off + ln])) + "]}\n").encode()
        )
        off += ln
    return out


def _trip_template() -> str:
    """One %-format template per trip line: a %s for the timestamp and
    each bool, a %d for each int and list item."""
    parts = []
    for name, kind, size in TRIP_FIELDS:
        if kind == "ts":
            val = '"2005-09-09 %s"'
        elif kind == "bool":
            val = "%s"
        elif kind == "list":
            val = "[" + ",".join(["%d"] * size) + "]"
        else:
            val = "%d"
        parts.append(f'"{name}":{val}')
    return "{" + ",".join(parts) + "}\n"


def trip_lines(n: int, seed: int) -> list[bytes]:
    """Trip-report lines: 19 fields, ints 1..99, fixed-size lists."""
    rng = np.random.default_rng(seed)
    width = sum(size or 1 for _, _, size in TRIP_FIELDS)
    ints = rng.integers(1, 100, (n, width)).astype(object)
    secs = rng.integers(0, 86400, n).tolist()
    col = 0
    for _, kind, size in TRIP_FIELDS:
        if kind == "ts":
            ints[:, col] = [f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for s in secs]
        elif kind == "bool":
            ints[:, col] = np.where(ints[:, col].astype(int) % 2 == 1, "true", "false")
        col += size or 1
    template = _trip_template()
    return [(template % tuple(row)).encode() for row in ints.tolist()]


def write_lines(path: str, lines: list[bytes]) -> None:
    with open(path, "wb") as f:
        f.write(b"".join(lines))
