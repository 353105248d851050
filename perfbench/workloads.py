"""The two workloads: one closed loop, one client, one operation in flight.

Each times a fixed number of *rounds*, a round being the unit of work the
workload is about, and reports the median round:

- ``ingest``: a fresh store; a round is one large line-protocol flush and
  the maintenance pass after it. Nothing is read while it is timed.
- ``serve``: a bulk-loaded history with a pickle trickle flush in its mor
  log; a round is one ``/fetch``, one ``/render`` and one cache query over
  the wire. Nothing is written while it is timed.

Set-up warms both paths on both stores, and ``serve`` runs its
maintenance pass after the rounds, so that a traced run has every layer's
spans on both workloads; these untimed operations count only in
``setup_s`` (or nowhere, after the rounds).
Every operation is recorded; the checks replay the record against the
independent model after the timed phase.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import Counter, defaultdict
from contextlib import nullcontext
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.harness import http_get, median
from perfbench.model import SchemaModel, close


@dataclass
class Size:
    n_metrics: int
    serve_metrics: int
    trickle_points: int
    trickle_new: int


FULL = Size(n_metrics=3000, serve_metrics=100, trickle_points=80, trickle_new=4)
TINY = Size(n_metrics=60, serve_metrics=40, trickle_points=10, trickle_new=2)


#: the read kinds, and the reads of ingest's set-up
WARM_READS = {"fetch": 1, "render": 1, "cache_query": 1}


# -- operations ---------------------------------------------------------------


@dataclass
class Recorder:
    """Wall and CPU time, attempts and failures per operation type, and the
    operations of each round; per-operation job counts when a job counter
    is attached (traced runs). A ``strict`` recorder (the untimed
    operations) lets a failure end the run instead of counting it."""

    cpu: object
    tracer: object = None
    jobs: object = None
    prefix: str = ""
    strict: bool = False
    attempted: Counter = field(default_factory=Counter)
    failed: Counter = field(default_factory=Counter)
    ops: list = field(default_factory=list)
    #: indices into ``ops`` of each round's operations
    rounds: list = field(default_factory=list)

    def begin_round(self) -> None:
        self.rounds.append([])

    def run(self, kind: str, fn, on_handler: bool = False):
        op_id = f"{self.prefix}{kind}-{len(self.ops) + 1}"
        self.attempted[kind] += 1
        rec = {"id": op_id, "kind": kind, "ok": True}
        if self.jobs is not None:
            if on_handler:
                first = self.jobs.total_jobs()
            else:
                self.jobs.begin_group(op_id)
        cm = self.tracer.operation(op_id, kind) if self.tracer else nullcontext()
        result = None
        with cm:
            c = self.cpu()
            t = time.perf_counter()
            try:
                result = fn()
            except Exception:  # noqa: BLE001 — a failed operation is
                # counted and reported, and the run goes on
                if self.strict:
                    raise
                rec["ok"] = False
                traceback.print_exc(file=sys.stderr)
            rec["seconds"] = time.perf_counter() - t
            rec["cpu"] = self.cpu() - c
        if self.jobs is not None:
            rec["jobs"], rec["tasks"] = (
                self.jobs.since(first) if on_handler
                else self.jobs.end_group(op_id)
            )
        if not rec["ok"]:
            self.failed[kind] += 1
        if self.rounds:
            self.rounds[-1].append(len(self.ops))
        self.ops.append(rec)
        return rec["ok"], result

    def of_kind(self, kind: str) -> list[dict]:
        return [o for o in self.ops if o["kind"] == kind and o["ok"]]

    def round_totals(self, key: str) -> list[float]:
        """Per round that fully succeeded, the sum of ``key`` over its
        operations."""
        out = []
        for r in self.rounds:
            ops = [self.ops[i] for i in r]
            if ops and all(o["ok"] for o in ops):
                out.append(sum(o.get(key, 0) for o in ops))
        return out


# -- the world a run measures ---------------------------------------------------


class World:
    """An ingest root with its per-schema stores, wired to one HTTP fetch
    server and one cache-query server per schema."""

    def __init__(self, spark, root: str, clock, tracer=None):
        from kenshin_spark.serving import (
            CacheQueryServer,
            HttpFetchServer,
            store_render_fn,
            store_serving_fns,
        )
        from kenshin_spark.streaming.ingest import StreamingIngest

        self.spark = spark
        self.root = root
        self.ing = StreamingIngest(
            spark, gen.SCHEMAS, root, clock=clock,
            store_mode="mor", commit_protocol="manifest",
        )
        self.stores = {s.name: self.ing.store_for(s) for s in gen.SCHEMAS.schemas}
        self.servers = {}
        for name, store in self.stores.items():
            lookup, fetch_fn = store_serving_fns(store)
            render_fn = store_render_fn(store, reader=fetch_fn.reader_store)
            if tracer is not None:
                lookup = tracer.wrap_fn(lookup, "serving.lookup")
                fetch_fn = tracer.wrap_fn(fetch_fn, "serving.fetch_fn")
                render_fn = tracer.wrap_fn(render_fn, "serving.render_fn")
            http = HttpFetchServer(fetch_fn, hot_fn=lookup, render_fn=render_fn)
            cq = CacheQueryServer(lookup)
            http.start()
            cq.start()
            self.servers[name] = (http, cq)

    def read(self, req: gen.Request, now: int):
        from kenshin_spark.serving import cache_query

        http, cq = self.servers[req.schema]
        if req.kind == "fetch":
            body = http_get(
                http.address, "/fetch",
                {"metric": list(req.metrics), "from": req.frm,
                 "until": req.until, "now": now},
            )
        elif req.kind == "render":
            body = http_get(
                http.address, "/render",
                {"target": req.target, "from": req.frm,
                 "until": req.until, "now": now},
            )
        else:
            return {"datapoints": cache_query(*cq.address, req.metrics[0])}
        return body

    def live_tier_bytes(self) -> int:
        """Bytes of every live tier file across the schema stores."""
        return sum(
            size
            for store in self.stores.values()
            for i in range(len(store.schema.archives))
            for _, size in store.commit.live_files(f"tier={i}")
        )

    def live_files(self) -> int:
        return sum(len(s.commit.live_files()) for s in self.stores.values())

    def close(self) -> None:
        for http, cq in self.servers.values():
            http.stop()
            cq.stop()
        self.servers = {}


class Clock:
    def __init__(self, now: int):
        self.now = now

    def __call__(self) -> int:
        return self.now


# -- workloads ---------------------------------------------------------------------


class Workload:
    name = ""

    def __init__(self, spark, seed: int, seconds: int, size: Size, tracer=None):
        self.spark = spark
        self.seed = seed
        self.size = size
        self.tracer = tracer
        #: (kind, payload) in the order things happened, for the checks
        self.log: list[tuple] = []
        self.clock = Clock(gen.T0)

    def wind_down(self, rec: Recorder, world: World) -> None:
        """Untimed operations after the rounds (none by default)."""

    def read_op(self, rec: Recorder, world: World, req: gen.Request, now: int):
        ok, body = rec.run(req.kind, lambda: world.read(req, now), True)
        if ok:
            rec.ops[-1]["rows"] = len(
                body["datapoints"] if req.kind == "cache_query" else body["rows"]
            )
            self.log.append(("read", req, now, body))

    def maintenance_op(self, rec: Recorder, world: World, now: int):
        ok, out = rec.run("maintenance", lambda: world.ing.maintenance(now=now))
        if ok:
            self.log.append(("maintenance", now, out))


class Ingest(Workload):
    name = "ingest"
    #: seconds one round (a flush and its pass) takes on the reference
    #: machine; sets how many groups of rounds a run of ``--seconds`` makes
    nominal_round_s = 12.5

    def __init__(self, spark, seed, seconds, size, tracer=None):
        super().__init__(spark, seed, seconds, size, tracer)
        self.groups = min(
            gen.MAX_GROUPS - 1,
            max(1, round(seconds / (self.nominal_round_s * gen.BATCHES_PER_GROUP))),
        )
        self.rounds = self.groups * gen.BATCHES_PER_GROUP
        self.names = gen.fleet(size.n_metrics)
        self.batches = [
            gen.ingest_batch(seed, b, self.names)
            for b in range((self.groups + 1) * gen.BATCHES_PER_GROUP)
        ]

    def build(self, root: str) -> World:
        os.makedirs(os.path.join(root, "inputs"))
        for b in self.batches:
            with open(os.path.join(root, "inputs", f"b{b.index}.txt"), "w") as fh:
                fh.write("\n".join(b.lines) + "\n")
        return World(self.spark, os.path.join(root, "store"), self.clock, self.tracer)

    def flush_op(self, rec: Recorder, world: World, b: int) -> None:
        from kenshin_spark.sources.line_protocol import parse_metric_lines

        batch = self.batches[b]
        self.clock.now = batch.now
        path = os.path.join(os.path.dirname(world.root), "inputs", f"b{b}.txt")
        ok, _ = rec.run(
            "flush",
            lambda: world.ing.process_batch(
                parse_metric_lines(self.spark.read.text(path)), b
            ),
        )
        rec.ops[-1]["rows"] = len(batch.points)
        if ok:
            self.log.append(("flush", batch))

    def setup(self, rec: Recorder, world: World) -> None:
        """Group 0, untimed: its first flush, one read of each kind, and
        the pass at the next group's clock. Checked like the rest."""
        self.flush_op(rec, world, 0)
        now = self.batches[0].now
        for req in gen.requests(self.seed, 0, self.names, now, WARM_READS):
            self.read_op(rec, world, req, now)
        self.maintenance_op(
            rec, world, gen.maintenance_clock(gen.BATCHES_PER_GROUP - 1)
        )

    def run_rounds(self, rec: Recorder, world: World) -> None:
        """Groups 1.. : each flush and the pass after it is one round; the
        group's last pass runs at the next group's clock, so hour
        partitions past tier-0 retention (and late tier-1 ones) expire."""
        last = (self.groups + 1) * gen.BATCHES_PER_GROUP - 1
        for b in range(gen.BATCHES_PER_GROUP, last + 1):
            rec.begin_round()
            self.flush_op(rec, world, b)
            if b == last:
                # outside the timed operations: the tiers as they stand
                # before the last pass, to show it changed no value
                self.before_last_pass = {
                    name: [_rows(store.read(i)) for i in range(3)]
                    for name, store in world.stores.items()
                }
            self.maintenance_op(rec, world, gen.maintenance_clock(b))

    def accepted_points(self, world: World) -> int:
        return world.ing.stats.metrics_received

    def check(self, world: World, errors: list[str]) -> None:
        models = {s.name: SchemaModel(s) for s in gen.SCHEMAS.schemas}
        seen: set[str] = set()
        want = Counter()
        for ev in self.log:
            if ev[0] == "flush":
                b = ev[1]
                by_schema: dict[str, list] = defaultdict(list)
                for p in b.points:
                    by_schema[gen.schema_of(p[0]).name].append(p)
                for name, pts in by_schema.items():
                    counts = models[name].flush(pts, b.now)
                    want["committed_points"] += sum(counts)
                want["metrics_received"] += len(b.points)
                want["corrupt_lines"] += b.n_malformed
                names = {p[0] for p in b.points}
                want["creates"] += len(names - seen)
                seen |= names
                want["batches"] += 1
            elif ev[0] == "maintenance":
                last_drops = check_maintenance(models, ev[1], ev[2], errors)
            else:
                check_read(models, ev, errors)
        stats = world.ing.stats
        for k, v in want.items():
            if getattr(stats, k) != v:
                errors.append(f"IngestStats.{k} = {getattr(stats, k)}, generator says {v}")
        if stats.dropped_old_points or stats.dropped_creates:
            errors.append("points or creates dropped on a run that drops none")
        # the store after the last maintenance pass
        for name, store in world.stores.items():
            m = models[name]
            tiers = [_rows(store.read(i)) for i in range(3)]
            if tiers[0] != _flat(m.tiers[0]):
                errors.append(f"{name} tier 0 differs from the independent LWW")
            for i in (1, 2):
                if not _same(tiers[i], _flat(m.tiers[i])):
                    errors.append(f"{name} tier {i} differs from the model")
                check_cascade(m, tiers, i, errors, name)
            # the last pass changed no value: every row it kept is as before
            before = self.before_last_pass[name]
            for i in range(3):
                unit, gone = m.units[i], last_drops[name].get(i, ())
                kept = {
                    k: v for k, v in before[i].items() if k[1] // unit not in gone
                }
                if not _same(kept, tiers[i]):
                    errors.append(f"{name} tier {i}: maintenance changed values")


class Serve(Workload):
    name = "serve"
    #: seconds one round (fetch, render, cache query) takes on the
    #: reference machine; sets how many rounds a run of ``--seconds`` makes
    nominal_round_s = 2.2
    #: rounds come in whole sets of the three archives a window can select
    STRATA = 3

    def __init__(self, spark, seed, seconds, size, tracer=None):
        super().__init__(spark, seed, seconds, size, tracer)
        self.rounds = self.STRATA * max(
            1, round(seconds / (self.nominal_round_s * self.STRATA))
        )
        # one schema (web) only: a bulk load writes three tiers per schema,
        # and each cold write costs seconds of the run's budget
        self.names = [
            m for m in gen.fleet(2 * size.serve_metrics)
            if gen.schema_of(m).name == "web"
        ]
        self.trickle = gen.trickle_batch(
            seed, 0, self.names, gen.T0, size.trickle_points, size.trickle_new
        )
        self.now = gen.T0 + gen.SLICE_S + 5
        self.history_n = 0

    def build(self, root: str) -> World:
        import pandas as pd

        from kenshin_spark.engine import KenshinEngine
        from kenshin_spark.sources.pickle_batch import pack_pickle_batch
        from kenshin_spark.store import ParquetTieredStore

        inputs = os.path.join(root, "inputs")
        os.makedirs(inputs)
        hist = gen.history_points(self.seed, self.names, gen.T0)
        self.history_n = len(hist["ts"])
        frame = pd.DataFrame(hist)
        frame.to_parquet(os.path.join(inputs, "history.parquet"))
        pd.DataFrame(
            {
                "metric": self.names,
                "schema_name": [gen.schema_of(m).name for m in self.names],
                "created_ts": [gen.T0] * len(self.names),
            }
        ).to_parquet(os.path.join(inputs, "catalog.parquet"))
        pts = self.trickle[0]
        blobs = [
            pack_pickle_batch([(m, (ts, v)) for m, ts, v in pts[k:k + 100]])
            for k in range(0, len(pts), 100)
        ]
        pd.DataFrame({"payload": blobs}).to_parquet(
            os.path.join(inputs, "trickle.parquet")
        )
        store_root = os.path.join(root, "store")
        # the fleet's catalog rows, as the index rebuild would write them
        ParquetTieredStore(
            self.spark, gen.SCHEMAS.schemas[0], store_root,
            commit_protocol="manifest",
        ).catalog_add(self.spark.read.parquet(os.path.join(inputs, "catalog.parquet")))
        world = World(self.spark, store_root, self.clock, self.tracer)
        web = gen.SCHEMA_BY_NAME["web"]
        points = self.spark.read.parquet(os.path.join(inputs, "history.parquet"))
        for i, t in enumerate(KenshinEngine(web).tiers(points)):
            # one file per partition, so the loaded history needs no
            # compaction
            world.stores["web"].overwrite(i, t.coalesce(1))
        return world

    def setup(self, rec: Recorder, world: World) -> None:
        """Untimed: one trickle flush, whose files stay in the mor log for
        every later read to merge, then one round of each stratum: the
        first reads of a plan shape, and the first merges of the log, cost
        up to three times the later ones."""
        from kenshin_spark.sources.pickle_batch import parse_pickle_batches

        now = self.clock.now = self.now
        path = os.path.join(os.path.dirname(world.root), "inputs", "trickle.parquet")
        rec.run(
            "flush",
            lambda: world.ing.process_batch(
                parse_pickle_batches(self.spark.read.parquet(path)), 0
            ),
        )
        rec.ops[-1]["rows"] = len(self.trickle[0])
        self.log.append(("flush", now))
        warm = {kind: self.STRATA for kind in WARM_READS}
        for req in gen.requests(self.seed, 0, self.names, now, warm):
            self.read_op(rec, world, req, now)

    def run_rounds(self, rec: Recorder, world: World) -> None:
        """Round k: the k-th fetch, render and cache query of one seeded,
        stratified mix (archive ``k % 3`` for the fetch and the render)."""
        mix = {kind: self.rounds for kind in WARM_READS}
        reqs = gen.requests(self.seed, 1, self.names, self.now, mix)
        for k, req in enumerate(reqs):
            if k % len(WARM_READS) == 0:
                rec.begin_round()
            self.read_op(rec, world, req, self.now)

    def wind_down(self, rec: Recorder, world: World) -> None:
        """Untimed, after the rounds: the maintenance pass, which retires
        the history's tier-0 partitions past retention and compacts the
        trickle's files."""
        self.maintenance_op(rec, world, self.now)

    def accepted_points(self, world: World) -> int:
        return self.history_n + world.ing.stats.metrics_received

    def check(self, world: World, errors: list[str]) -> None:
        models = {s.name: SchemaModel(s) for s in gen.SCHEMAS.schemas}
        for name in models:
            models[name].load(
                (m, ts, gen.value_of(self.seed, m, ts))
                for m in self.names if gen.schema_of(m).name == name
                for ts in gen.history_slots(m, gen.T0)
            )
        want = Counter()
        for ev in self.log:
            if ev[0] == "flush":
                _, now = ev
                pts, new = self.trickle
                by_schema: dict[str, list] = defaultdict(list)
                for p in pts:
                    by_schema[gen.schema_of(p[0]).name].append(p)
                for name, ps in by_schema.items():
                    models[name].flush(ps, now)
                want["metrics_received"] += len(pts)
                want["creates"] += len(new)
            elif ev[0] == "maintenance":
                check_maintenance(models, ev[1], ev[2], errors)
            else:
                check_read(models, ev, errors)
        stats = world.ing.stats
        for k, v in want.items():
            if getattr(stats, k) != v:
                errors.append(f"IngestStats.{k} = {getattr(stats, k)}, generator says {v}")


WORKLOADS = {w.name: w for w in (Ingest, Serve)}


# -- checks ----------------------------------------------------------------------------


def _rows(df) -> dict[tuple[str, int], float]:
    return {(r["metric"], int(r["ts"])): r["value"] for r in df.collect()}


def _flat(tier: dict[str, dict[int, float]]) -> dict[tuple[str, int], float]:
    return {(m, ts): v for m, series in tier.items() for ts, v in series.items()}


def _same(a: dict, b: dict) -> bool:
    return a.keys() == b.keys() and all(close(a[k], b[k]) for k in a)


def check_cascade(m: SchemaModel, tiers: list[dict], i: int, errors, name) -> None:
    """Each coarser slot equals the schema's aggregate of the finer tier's
    slots, wherever the finer partition is still live."""
    from perfbench.model import aggregate

    step, fine_step, unit = m.steps[i], m.steps[i - 1], m.units[i - 1]
    fine = tiers[i - 1]
    bad = 0
    for (metric, c), v in tiers[i].items():
        if c // unit in m.dropped[i - 1]:
            continue
        vals = [
            fine[(metric, s)] for s in range(c, c + step, fine_step)
            if (metric, s) in fine
        ]
        if not vals:
            continue  # written straight into this tier (late points)
        if not close(v, aggregate(m.schema.agg_method, vals)):
            bad += 1
    if bad:
        errors.append(f"{name} tier {i}: {bad} slots are not the aggregate of tier {i - 1}")


def check_maintenance(models, now: int, out: dict, errors) -> dict:
    """Compare one pass's expiries with the model's; returns the model's
    drops per schema."""
    drops = {}
    for name, model in models.items():
        want = drops[name] = model.expire(now)
        got = {int(k): sorted(v) for k, v in out.get(name, {}).get("expired", {}).items()}
        if got != want:
            errors.append(
                f"maintenance at {now}: {name} expired {got}, retention says {want}"
            )
    return drops


def check_read(models, ev, errors) -> None:
    _, req, now, body = ev
    model = models[req.schema]
    if isinstance(body, dict) and body.get("degraded"):
        errors.append(f"{req.kind} answered degraded")
    if req.kind == "cache_query":
        got = {int(t): v for t, v in body["datapoints"]}
        want = model.series(0, req.metrics[0])
        if not _same(got, want):
            errors.append(f"cache query {req.metrics[0]} at {now} differs from tier-0 LWW")
        return
    metrics = req.metrics if req.kind == "fetch" else req.glob_metrics
    expect = model.fetch(metrics, req.frm, req.until, now)
    if expect is None:
        errors.append(f"{req.kind} window outside retention")
        return
    step, want_rows = expect
    if req.kind == "fetch":
        got = {(r[0], int(r[1])): r[2] for r in body["rows"]}
        want = {(m, ts): v for m, ts, v in want_rows}
        n_slots = -(-min(req.until, now) // step) - (-(-req.frm // step))
        per_metric = Counter(m for m, _ in got)
        if any(per_metric[m] != n_slots for m in metrics):
            errors.append(f"fetch grid is not {n_slots} slots at step {step}")
        if not _same(got, want):
            errors.append(f"fetch {metrics[:2]}... at archive {req.archive} differs from the generator")
        return
    # render: sumSeries (times the scale factor) of the per-metric series
    sums: dict[int, list[float]] = {}
    for _, ts, v in want_rows:
        vs = sums.setdefault(ts, [])
        if v is not None:
            vs.append(v)
    want = {
        ts: (sum(vs) * req.factor if vs else None) for ts, vs in sums.items()
    }
    got = {int(r[1]): r[2] for r in body["rows"]}
    if not _same(got, want):
        errors.append(f"render {req.target} differs from the sum of its fetches")


def stage_metrics(w: Workload, rec: Recorder, world: World) -> dict[str, float]:
    """The end-to-end figures of the timed rounds."""
    return {
        "op_cpu_ms": median(rec.round_totals("cpu")) * 1000.0,
        "op_wall_ms": median(rec.round_totals("seconds")) * 1000.0,
        "store_bytes_per_point": world.live_tier_bytes() / w.accepted_points(world),
    }
