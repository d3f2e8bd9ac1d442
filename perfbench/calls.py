"""Seeded dashboard call stream.

Call ``i`` is a pure function of ``(seed, i)``, so the stream is identical
however many client threads pull from it.  Kinds rotate accident ->
overspeed -> avgspeed (exactly one third each).  Half the calls repeat one
of two popular tuples per kind (the dashboard's default views: a small box
and the whole extent); the rest are drawn fresh: boxes of 0.5, 1.5 and 3
degrees or the whole station extent, ranges touching 1 to 7 months, and
one fresh average-speed date in four inside June 2016, where the trailing
30-day window is clamped to the data's first day.
"""

from __future__ import annotations

import datetime as dt
import random
from typing import NamedTuple

KINDS = ("accident", "overspeed", "avgspeed")
# station / accident extent written by tests/traffic_sim.generate
LON = (115.0, 120.0)
LAT = (35.0, 41.0)
BOX_SIDES = (0.5, 1.5, 3.0, None)  # degrees; None = whole extent
FIRST_MONTH = (2016, 6)
N_MONTHS = 7
HOT_PER_KIND = 2


class Call(NamedTuple):
    idx: int
    kind: str
    args: tuple  # TrafficEngine facade order: lon_hi, lon_lo, lat_hi, lat_lo, dates...


def _box(rng: random.Random, side: float | None) -> tuple:
    if side is None:
        return (LON[1], LON[0], LAT[1], LAT[0])
    lon_lo = round(rng.uniform(LON[0], LON[1] - side), 2)
    lat_lo = round(rng.uniform(LAT[0], LAT[1] - side), 2)
    return (round(lon_lo + side, 2), lon_lo, round(lat_lo + side, 2), lat_lo)


def _month(k: int) -> tuple[int, int]:
    y, m = FIRST_MONTH
    m += k
    return y + (m - 1) // 12, (m - 1) % 12 + 1


def _range(rng: random.Random, span: int) -> tuple[str, str]:
    first = rng.randint(0, N_MONTHS - span)
    d0 = rng.randint(1, 28)
    d1 = rng.randint(d0 if span == 1 else 1, 28)
    y0, m0 = _month(first)
    y1, m1 = _month(first + span - 1)
    return f"{y0:04d}-{m0:02d}-{d0:02d}", f"{y1:04d}-{m1:02d}-{d1:02d}"


def _avg_date(rng: random.Random, clamp: bool) -> tuple[str]:
    """A date whose trailing 30 days touch one month (June, clamped to the
    data's first day) or always two (a day from the 1st to the 28th of
    July to December), so the seed never changes how many month files a
    class of call reads."""
    if clamp:
        d = dt.date(2016, 6, 1) + dt.timedelta(days=rng.randrange(30))
    else:
        y, m = _month(rng.randint(1, N_MONTHS - 1))
        d = dt.date(y, m, rng.randint(1, 28))
    return (d.isoformat(),)


def _hot(rng: random.Random, kind: str, j: int) -> tuple:
    """The ``j``-th popular tuple of a kind: alternately a small box over
    two months and the whole extent over all seven, so every seed's hot
    set carries the same cheap and expensive views."""
    small = j % 2 == 0
    box = _box(rng, BOX_SIDES[0] if small else None)
    if kind == "avgspeed":
        return box + _avg_date(rng, clamp=not small)
    return box + _range(rng, span=2 if small else N_MONTHS)


class CallStream:
    def __init__(self, seed: int, salt: str = "run"):
        self.seed = seed
        self.salt = salt
        rng = random.Random(f"hot:{seed}")
        self.hot = {k: [_hot(rng, k, j) for j in range(HOT_PER_KIND)] for k in KINDS}

    def call(self, i: int) -> Call:
        """Stratified by index: kinds rotate, popular and fresh calls
        alternate within a kind, and fresh calls cycle through the box sizes
        and range lengths; the seed picks positions and days within each
        class.  Fresh calls get costlier along a cycle, so a prefix's mix
        depends on its length: metrics are computed from a fixed prefix
        (``workloads.MEASURED_OPS``), never from whatever fits a window."""
        rng = random.Random(f"{self.salt}:{self.seed}:{i}")
        kind = KINDS[i % len(KINDS)]
        j = i // len(KINDS)  # this call's position among its kind
        if j % 2 == 0:
            hot = self.hot[kind]
            return Call(i, kind, hot[(j // 2) % len(hot)])
        c = j // 2
        box = _box(rng, BOX_SIDES[c % len(BOX_SIDES)])
        if kind == "avgspeed":
            return Call(i, kind, box + _avg_date(rng, clamp=c % 4 == 1))
        return Call(i, kind, box + _range(rng, span=1 + (c * 3) % N_MONTHS))


def repeat_share(calls) -> float:
    """Share of calls whose (kind, args) already occurred earlier in
    ``calls`` — the exact-repeat share a result cache could serve."""
    seen, repeats = set(), 0
    for c in calls:
        key = (c.kind, c.args)
        repeats += key in seen
        seen.add(key)
    return repeats / len(calls) if calls else 0.0
