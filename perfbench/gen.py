"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed (and the batch index), so
the same seed always yields the same lines, history and requests, and the
checks can recompute any expected value without asking the program.

Values are integers (stored as doubles): sums and single-level averages are
then exact in any summation order, so tier-0 and tier-1 comparisons are
exact; only averages of averages need a float tolerance.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

from kenshin_spark.config import Schema, SchemaSet
from perfbench.model import part_unit

#: two storage schemas, three archives each, each with its own aggregation;
#: every retention is at most two days except db's coarsest, so the hot
#: tiers partition by hour and the run's clock jumps expire partitions
SCHEMAS = SchemaSet(
    (
        Schema.from_strings(
            "web", r"^web\.", "10s:30m,60s:6h,600s:2d",
            xff=1.0, agg_method="average",
        ),
        Schema.from_strings(
            "db", r".*", "30s:1h,300s:12h,1800s:3d",
            xff=1.0, agg_method="max",
        ),
    )
)
SCHEMA_BY_NAME = {s.name: s for s in SCHEMAS.schemas}

#: the run's first slice starts on a day boundary, so no coarse slot of any
#: tier straddles it
T0 = 1_700_006_400
#: one flush carries one minute of fleet time
SLICE_S = 60
#: flushes per group; the ingest clock jumps GROUP_JUMP_S between groups,
#: so the pass after a group finds hour partitions past tier-0 retention
BATCHES_PER_GROUP = 2
GROUP_JUMP_S = 3600
#: groups an ingest run may hold before its late points (placed before
#: T0, within tier-1 retention) would run out of room
MAX_GROUPS = 8
#: glob groups of the fleet (``web.g03.*.cpu``)
N_GROUPS = 20


def schema_of(metric: str) -> Schema:
    return SCHEMAS.match(metric)


def fleet(n: int) -> list[str]:
    """``n`` metric names, half per schema, spread over ``N_GROUPS`` glob
    groups (``web.g03.h012.cpu``, ``db.g03.h013.qps``)."""
    out = []
    for i in range(n):
        g = (i // 2) % N_GROUPS
        if i % 2 == 0:
            out.append(f"web.g{g:02d}.h{i:04d}.cpu")
        else:
            out.append(f"db.g{g:02d}.h{i:04d}.qps")
    return out


def value_of(seed: int, metric: str, ts, gen: int = 0):
    """The generator's value for one point (an integer in [0, 1000) as a
    double); ``gen`` distinguishes a later rewrite of the same slot.
    ``ts`` may be an int or a numpy integer array."""
    x = (
        seed * 1_000_003 + metric_key(metric) + ts * 7919 + gen * 104_729
    ) & _MASK
    x ^= x >> 17
    x = (x * 0x9E3779B1) & _MASK
    x ^= x >> 13
    return x % 1000 * 1.0


_MASK = (1 << 48) - 1
_KEYS: dict[str, int] = {}


def metric_key(metric: str) -> int:
    """A process-independent integer key of a metric name."""
    k = _KEYS.get(metric)
    if k is None:
        k = 0
        for ch in metric.encode():
            k = (k * 31 + ch) & _MASK
        _KEYS[metric] = k
    return k


# -- ingest: line-protocol batches ---------------------------------------


@dataclass
class Batch:
    """One flush worth of input and what the generator knows about it."""

    index: int
    now: int
    lines: list[str]
    #: (metric, ts, value) of every well-formed line, in file order
    points: list[tuple[str, int, float]]
    n_malformed: int


#: the parts of each ingest batch, as shares of the fleet size
SHARES = {
    "repeat_in_batch": 0.05,
    "repeat_prev_batch": 0.02,
    "late": 0.03,
    "new": 0.01,
    "malformed": 0.01,
}


def batch_clock(b: int) -> tuple[int, int]:
    """(slice start, flush time) of batch ``b``: the batches of a group are
    contiguous minutes, and the clock jumps GROUP_JUMP_S between groups."""
    g, j = divmod(b, BATCHES_PER_GROUP)
    start = T0 + g * GROUP_JUMP_S + j * SLICE_S
    return start, start + SLICE_S + 5


def maintenance_clock(b: int) -> int:
    """The clock of the maintenance pass after batch ``b``: the flush time
    within a group, the next group's start after its last batch, so the
    gap's expiries land on that pass."""
    g, j = divmod(b, BATCHES_PER_GROUP)
    if j < BATCHES_PER_GROUP - 1:
        return batch_clock(b)[1]
    return T0 + (g + 1) * GROUP_JUMP_S


def ingest_batch(seed: int, b: int, names: list[str]) -> Batch:
    rng = random.Random(seed * 7_777_777 + b)
    start, now = batch_clock(b)
    c = {k: max(1, int(len(names) * v)) for k, v in SHARES.items()}
    points: list[tuple[str, int, float]] = []
    # base: every fleet metric gets one point in the slice, placed in the
    # first half of its tier-0 slot so an in-slot rewrite stays in the slot
    base: list[tuple[str, int]] = []
    for m in names:
        step = schema_of(m).archives[0].sec_per_point
        slot = start + rng.randrange(SLICE_S // step) * step
        ts = slot + rng.randrange(step // 2)
        base.append((m, ts))
        points.append((m, ts, value_of(seed, m, ts)))
    # the same slot again, later in the slot: last-write-wins takes it
    for m, ts in rng.sample(base, c["repeat_in_batch"]):
        step = schema_of(m).archives[0].sec_per_point
        ts2 = ts + step // 2
        points.append((m, ts2, value_of(seed, m, ts2, gen=1)))
    # a slot of the previous flush of the group, sent again: the later
    # flush wins
    if b % BATCHES_PER_GROUP:
        for m in rng.sample(names, c["repeat_prev_batch"]):
            step = schema_of(m).archives[0].sec_per_point
            ts = start - SLICE_S + rng.randrange(SLICE_S // step) * step
            points.append((m, ts, value_of(seed, m, ts, gen=2 + b)))
    # late points (db metrics): older than tier-0 retention, before the
    # run's first slice (so tier 0 never held their slots), inside tier-1
    # retention; spread round-robin over the whole hours of that window, so
    # every seed touches the same partitions
    late_pool = [m for m in names if schema_of(m).name == "db"]
    arch = SCHEMA_BY_NAME["db"].archives
    lo = now - arch[1].retention + 900
    hi = min(now - arch[0].retention - 60, T0 - 1)
    hours = list(range(-(-lo // 3600), hi // 3600))
    for k, m in enumerate(rng.sample(late_pool, c["late"])):
        ts = hours[k % len(hours)] * 3600 + rng.randrange(3600)
        points.append((m, ts, value_of(seed, m, ts, gen=1000 + b)))
    new = [
        f"{'web' if k % 2 == 0 else 'db'}.new.b{b:03d}.n{k:03d}.x"
        for k in range(c["new"])
    ]
    for m in new:
        step = schema_of(m).archives[0].sec_per_point
        ts = start + rng.randrange(SLICE_S // step) * step
        points.append((m, ts, value_of(seed, m, ts)))
    lines = [f"{m} {int(v)} {ts}" for m, ts, v in points]
    bad_kinds = [
        "{m} notanumber {ts}",
        "{m} {ts}",
        "{m} 1 2 3",
        "{m} 17 yesterday",
    ]
    malformed = []
    for k in range(c["malformed"]):
        m = rng.choice(names)
        malformed.append(bad_kinds[k % len(bad_kinds)].format(m=m, ts=start))
    # malformed lines mixed in at seeded positions
    for ln in malformed:
        lines.insert(rng.randrange(len(lines) + 1), ln)
    return Batch(b, now, lines, points, len(malformed))


# -- serve: history, trickle batches, requests -----------------------------


def history_points(seed: int, names: list[str], now: int) -> dict:
    """The bulk-loaded history as numpy columns: every tier-0 step over the
    tier-0 retention, then one point per coarsest step back to the
    coarsest retention."""
    import numpy as np

    ms, tss, vs = [], [], []
    for m in names:
        grid = history_slots(m, now)
        ts = np.asarray(grid, dtype=np.uint64)
        ms.append(np.full(len(grid), m, dtype=object))
        tss.append(ts.astype(np.int64))
        vs.append(value_of(seed, m, ts).astype(np.float64))
    return {
        "metric": np.concatenate(ms),
        "ts": np.concatenate(tss),
        "value": np.concatenate(vs),
    }


def history_slots(metric: str, now: int) -> list[int]:
    arch = schema_of(metric).archives
    s0, r0 = arch[0].sec_per_point, arch[0].retention
    s2, r2 = arch[-1].sec_per_point, arch[-1].retention
    top = now - now % s0
    old_top = (top - r0) - (top - r0) % s2
    return list(range(old_top - r2 + 2 * s2, old_top, s2)) + list(
        range(top - r0 + s0, top + 1, s0)
    )


def trickle_batch(
    seed: int, b: int, names: list[str], start: int, n_points: int, n_new: int
) -> tuple[list[tuple[str, int, float]], list[str]]:
    """The newest slice for a seeded subset of the fleet plus ``n_new``
    never-seen metrics of the fleet's schema."""
    rng = random.Random(seed * 5_555_555 + b)
    pts = []
    for m in rng.sample(names, n_points):
        step = schema_of(m).archives[0].sec_per_point
        ts = start + rng.randrange(SLICE_S // step) * step
        pts.append((m, ts, value_of(seed, m, ts, gen=3)))
    new = [f"{names[0].split('.')[0]}.new.t{b:03d}.n{k:02d}.x" for k in range(n_new)]
    for m in new:
        step = schema_of(m).archives[0].sec_per_point
        pts.append((m, start, value_of(seed, m, start)))
    return pts, new


@dataclass(frozen=True)
class Request:
    kind: str  # "fetch" | "render" | "cache_query"
    schema: str
    metrics: tuple[str, ...] = ()
    target: str = ""
    glob_metrics: tuple[str, ...] = ()
    factor: float = 1.0
    frm: int = 0
    until: int = 0
    archive: int = 0


#: window length per archive index: a few dozen to a few hundred slots
SPAN_S = (600, 7200, 43200)
#: metrics named by the k-th fetch of a cycle
FETCH_WIDTHS = (3, 1, 5, 2, 4)


def _window(rng: random.Random, arch, idx: int, now: int) -> tuple[int, int]:
    """A window whose age selects archive ``idx``. It starts on a partition
    boundary of that archive's tier when it spans partitions, and stays
    inside one partition when it is shorter, so every seed's read opens
    the same number of partitions."""
    lo_age = arch[idx - 1].retention + 60 if idx else 0
    hi_age = arch[idx].retention - 60
    span = min(SPAN_S[idx], hi_age - lo_age)
    lo, hi = now - hi_age, now - lo_age - span
    unit = part_unit(arch[idx].retention)
    if span >= unit:
        starts = range(-(-lo // unit) * unit, hi + 1, unit)
    else:
        step = arch[idx].sec_per_point
        starts = [
            s for s in range(-(-lo // step) * step, hi + 1, step)
            if s // unit == (s + span - 1) // unit
        ]
    frm = rng.choice(starts)
    return frm, frm + span


def requests(
    seed: int, cycle: int, names: list[str], now: int, counts: dict[str, int]
) -> list[Request]:
    """A seeded request mix for one cycle, in send order.

    The mix is stratified so the latency medians do not hang on the draw:
    the k-th fetch and render select archive ``k % 3`` and the k-th fetch
    names ``FETCH_WIDTHS[k % 5]`` metrics; the seed picks the schema,
    metrics, glob groups and window offsets. Kinds interleave in a fixed
    order."""
    rng = random.Random(seed * 3_333_333 + cycle)
    by_schema: dict[str, list[str]] = {}
    for m in names:
        by_schema.setdefault(schema_of(m).name, []).append(m)
    schemas = sorted(by_schema)
    fetches, renders, lookups = [], [], []
    for k in range(counts.get("fetch", 0)):
        sname = schemas[k % len(schemas)]
        arch = SCHEMA_BY_NAME[sname].archives
        idx = k % len(arch)
        frm, until = _window(rng, arch, idx, now)
        ms = tuple(rng.sample(by_schema[sname], FETCH_WIDTHS[k % len(FETCH_WIDTHS)]))
        fetches.append(Request("fetch", sname, ms, frm=frm, until=until, archive=idx))
    for k in range(counts.get("render", 0)):
        sname = schemas[k % len(schemas)]
        arch = SCHEMA_BY_NAME[sname].archives
        idx = k % len(arch)
        frm, until = _window(rng, arch, idx, now)
        g = rng.randrange(N_GROUPS)
        prefix, suffix = ("web", "cpu") if sname == "web" else ("db", "qps")
        glob = f"{prefix}.g{g:02d}.*.{suffix}"
        matched = tuple(
            m for m in by_schema[sname] if m.startswith(f"{prefix}.g{g:02d}.")
        )
        factor = (1.0, 0.5, 2.0)[k % 3]
        target = (
            f"sumSeries({glob})" if factor == 1.0
            else f"scale(sumSeries({glob}), {factor})"
        )
        renders.append(
            Request(
                "render", sname, target=target, glob_metrics=matched,
                factor=factor, frm=frm, until=until, archive=idx,
            )
        )
    for k in range(counts.get("cache_query", 0)):
        sname = schemas[k % len(schemas)]
        lookups.append(Request("cache_query", sname, (rng.choice(by_schema[sname]),)))
    out: list[Request] = []
    for k in range(max(len(fetches), len(renders), len(lookups))):
        for kind in (fetches, renders, lookups):
            if k < len(kind):
                out.append(kind[k])
    return out
