"""Answer checks for dashboard calls against the pure-Python reference
oracle in ``tests/traffic_sim.py`` — the same canonical forms as
``tests/test_traffic_queries.py``: row sets, averages rounded to 9 places."""

from __future__ import annotations

import json
from pathlib import Path


def canonical(kind: str, rows) -> set[tuple]:
    """Canonical row set for a call's result rows (tuples in column order)."""
    out = set()
    for r in rows:
        r = tuple(r)
        if kind == "avgspeed":
            tp, ct, h, avg = r
            r = (tp, ct, h, round(avg, 9))
        out.add(r)
    return out


def parse_json_rows(rows: list[str]) -> list[tuple]:
    return [tuple(json.loads(r).values()) for r in rows]


def oracle(traffic_sim, base: Path, kind: str, args: tuple) -> set[tuple]:
    lon_hi, lon_lo, lat_hi, lat_lo, *dates = args
    bbox = (lon_lo, lon_hi, lat_lo, lat_hi)
    if kind == "accident":
        want = traffic_sim.oracle_accident_count(base, bbox, *dates)
    elif kind == "overspeed":
        want = traffic_sim.oracle_overspeed(base, bbox, *dates)
    elif kind == "avgspeed":
        want = traffic_sim.oracle_avgspeed(base, bbox, *dates)
    else:
        raise ValueError(f"unknown call kind {kind!r}")
    return canonical(kind, want)


def matches(kind: str, want: set[tuple], json_rows: list[str]) -> bool:
    """True when a call's JSON rows canonicalize to the oracle's answer."""
    try:
        got = canonical(kind, parse_json_rows(json_rows))
    except (ValueError, TypeError):  # a row missing a field or not JSON
        return False
    return got == want
