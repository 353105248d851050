"""An independent, plain-Python model of what the store must hold.

It follows the storage semantics the reference specifies, not the program's
code: a point routes to the first archive whose retention covers its age,
aligns down to that archive's step and wins its slot if it is the newest
write (a later flush, or a later raw timestamp within one flush); every
write re-aggregates the coarser slots it touches from the finer tier as it
stands; expiry drops whole partitions (hours for tiers of at most two days,
days above) that lie wholly past retention.
"""

from __future__ import annotations

import math

from kenshin_spark.config import Schema

HOUR = 3600
DAY = 86400
#: retention up to which a tier is partitioned by hour
HOT_RETENTION = 2 * DAY


def part_unit(retention: int) -> int:
    return HOUR if retention <= HOT_RETENTION else DAY


def aggregate(method: str, values: list[float]) -> float:
    if method == "average":
        return sum(values) / len(values)
    if method == "max":
        return max(values)
    raise ValueError(f"model has no aggregate {method!r}")


def close(a: float | None, b: float | None) -> bool:
    """Exact for integers and single-level aggregates; a relative 1e-12
    for averages of averages, whose summation order the engine picks."""
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-9)


class SchemaModel:
    def __init__(self, schema: Schema):
        self.schema = schema
        self.steps = [a.sec_per_point for a in schema.archives]
        self.rets = [a.retention for a in schema.archives]
        self.units = [part_unit(r) for r in self.rets]
        #: per tier: metric -> {slot: value}
        self.tiers: list[dict[str, dict[int, float]]] = [
            {} for _ in schema.archives
        ]
        #: per tier: the partitions expiry has dropped so far
        self.dropped: list[set[int]] = [set() for _ in schema.archives]

    # -- writes ---------------------------------------------------------------

    def route(self, age: int) -> int | None:
        for i, r in enumerate(self.rets):
            if age <= r:
                return i
        return None

    def write(self, i: int, slots: dict[tuple[str, int], float]) -> None:
        """Upsert aligned tier-i slots, then re-aggregate every coarser
        slot they touch."""
        tier = self.tiers[i]
        for (m, ts), v in slots.items():
            tier.setdefault(m, {})[ts] = v
        touched = set(slots)
        for j in range(i + 1, len(self.steps)):
            step, fine_step = self.steps[j], self.steps[j - 1]
            coarse = {(m, ts - ts % step) for m, ts in touched}
            fine = self.tiers[j - 1]
            out = self.tiers[j]
            for m, c in coarse:
                got = fine.get(m, {})
                vals = [
                    got[s] for s in range(c, c + step, fine_step) if s in got
                ]
                if vals:
                    out.setdefault(m, {})[c] = aggregate(
                        self.schema.agg_method, vals
                    )

    def flush(self, points: list[tuple[str, int, float]], now: int) -> list[int]:
        """One process_batch worth of points (file order = arrival order
        within the flush). Returns the committed slot count per tier."""
        per_tier: list[dict[tuple[str, int], tuple[int, float]]] = [
            {} for _ in self.steps
        ]
        for m, ts, v in points:
            i = self.route(now - ts)
            if i is None:
                continue
            key = (m, ts - ts % self.steps[i])
            prev = per_tier[i].get(key)
            if prev is None or ts >= prev[0]:
                per_tier[i][key] = (ts, v)
        for i, slots in enumerate(per_tier):
            if slots:
                self.write(i, {k: v for k, (_, v) in slots.items()})
        return [len(s) for s in per_tier]

    def load(self, points) -> None:
        """The bulk load: every point into tier 0, then the cascade."""
        slots = {}
        for m, ts, v in points:
            slots[(m, ts - ts % self.steps[0])] = v
        self.write(0, slots)

    def expire(self, now: int) -> dict[int, list[int]]:
        """Drop partitions wholly past retention; returns the dropped
        partitions per tier, as the store reports them."""
        out: dict[int, list[int]] = {}
        for i, tier in enumerate(self.tiers):
            unit = self.units[i]
            cutoff = (now - self.rets[i]) // unit
            gone = set()
            for m in list(tier):
                series = tier[m]
                for ts in [t for t in series if t // unit < cutoff]:
                    gone.add(ts // unit)
                    del series[ts]
                if not series:
                    del tier[m]
            if gone:
                out[i] = sorted(gone)
                self.dropped[i] |= gone
        return out

    # -- reads ----------------------------------------------------------------

    def fetch(
        self, metrics, frm: int, until: int, now: int
    ) -> tuple[int, list[tuple[str, int, float | None]]] | None:
        """(step, grid rows) the reference's fetch must return."""
        oldest = now - self.rets[-1]
        if frm > now or until < oldest:
            return None
        frm, until = max(frm, oldest), min(until, now)
        age = now - frm
        idx = next(
            (i for i, r in enumerate(self.rets) if r >= age),
            len(self.rets) - 1,
        )
        step = self.steps[idx]
        lo = -(-frm // step) * step
        hi = -(-until // step) * step
        tier = self.tiers[idx]
        rows = [
            (m, ts, tier.get(m, {}).get(ts))
            for m in metrics
            for ts in range(lo, hi, step)
        ]
        return step, rows

    def series(self, i: int, metric: str) -> dict[int, float]:
        return dict(self.tiers[i].get(metric, {}))
