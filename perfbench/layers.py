"""Per-layer numbers derived from a traced run's spans, job counts and
operation times.

Each metric is named after the module it measures; ``MOVES`` says which
end-to-end metric it should move. Per-operation numbers are medians over
the run's operations of that kind.
"""

from __future__ import annotations

import statistics

UNITS = {
    "session.start_s": "s",
    "session.noop_job_ms": "ms",
    "jvm.gc_ms": "ms",
    "process.peak_rss_mb": "MB",
    "client.op_wall_ms": "ms",
    "ingest.flush_p50_s": "s",
    "ingest.flush_cpu_s": "s",
    "ingest.flush_jobs": "count",
    "ingest.flush_tasks": "count",
    "ingest.flush_self_s": "s",
    "store.catalog_add_s": "s",
    "store.upsert_s": "s",
    "store.propagate_s": "s",
    "commit.txn_ms": "ms",
    "commit.txns_per_flush": "count",
    "store.files_per_flush": "count",
    "store.live_files": "count",
    "store.bytes_written_per_point": "B",
    "ingest.maintenance_s": "s",
    "ingest.maintenance_cpu_s": "s",
    "store.expire_s": "s",
    "store.compact_s": "s",
    "store.fetch_plan_ms": "ms",
    "serving.fetch_exec_ms": "ms",
    "serving.fetch_p50_ms": "ms",
    "serving.fetch_cpu_ms": "ms",
    "serving.render_p50_ms": "ms",
    "serving.render_cpu_ms": "ms",
    "serving.cache_query_p50_ms": "ms",
    "serving.cache_query_cpu_ms": "ms",
    "serving.fetch_jobs": "count",
    "serving.render_jobs": "count",
    "serving.cache_query_jobs": "count",
    "render.chain_plan_ms": "ms",
    "serving.wire_ms": "ms",
}

#: the end-to-end metric each per-layer metric should move, and on which
#: workload ("setup_s" where the workload runs the operation untimed)
_W = "op_cpu_ms on ingest; setup_s on serve"
_R = "op_cpu_ms on serve; setup_s on ingest"
MOVES = {
    "session.start_s": "setup_s",
    "session.noop_job_ms": "(control: machine state)",
    "jvm.gc_ms": "op_cpu_ms",
    "process.peak_rss_mb": "(memory; too unsteady for an end-to-end bound)",
    "client.op_wall_ms": "(wall-clock view of op_cpu_ms's rounds)",
    "ingest.flush_p50_s": "(wall-clock view of ingest.flush_cpu_s)",
    "ingest.flush_cpu_s": _W,
    "ingest.flush_jobs": _W,
    "ingest.flush_tasks": _W,
    "ingest.flush_self_s": _W,
    "store.catalog_add_s": _W,
    "store.upsert_s": _W,
    "store.propagate_s": _W,
    "commit.txn_ms": _W,
    "commit.txns_per_flush": _W,
    "store.files_per_flush": "op_cpu_ms on serve (files the reads merge)",
    "store.live_files": "op_cpu_ms on both (files reads and passes open)",
    "store.bytes_written_per_point": "op_cpu_ms on ingest, store_bytes_per_point",
    "ingest.maintenance_s": "(wall-clock view of ingest.maintenance_cpu_s)",
    "ingest.maintenance_cpu_s": "op_cpu_ms on ingest (untimed on serve)",
    "store.expire_s": "op_cpu_ms on ingest (untimed on serve)",
    "store.compact_s": "op_cpu_ms on ingest (untimed on serve)",
    "store.fetch_plan_ms": _R,
    "serving.fetch_exec_ms": _R,
    "serving.fetch_p50_ms": "(wall-clock view of serving.fetch_cpu_ms)",
    "serving.fetch_cpu_ms": _R,
    "serving.render_p50_ms": "(wall-clock view of serving.render_cpu_ms)",
    "serving.render_cpu_ms": _R,
    "serving.cache_query_p50_ms": "(wall-clock view of serving.cache_query_cpu_ms)",
    "serving.cache_query_cpu_ms": _R,
    "serving.fetch_jobs": _R,
    "serving.render_jobs": _R,
    "serving.cache_query_jobs": _R,
    "render.chain_plan_ms": _R,
    "serving.wire_ms": _R,
}

#: the client-side operation each endpoint span answers
ENDPOINT = {
    "fetch": "serving.fetch_fn",
    "render": "serving.render_fn",
    "cache_query": "serving.lookup",
}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(
    tracer, rec, untimed, start_s: float, noop_ms, gc_ms: int,
    peak_rss_mb: float, live_files: int,
) -> dict:
    """Per-operation numbers come from the timed operations of a kind, or,
    where the workload times none (reads on ingest, the flush and the pass
    on serve), from its untimed operations of that kind."""
    self_t = tracer.self_times()
    spans_of = tracer.by_op()

    def dur(s):
        return s["end"] - s["start"]

    def of_kind(kind):
        ops = rec.of_kind(kind) or untimed.of_kind(kind)
        return [(o, spans_of.get(o["id"], [])) for o in ops]

    def med(kind, key, scale=1.0):
        return _med(op[key] * scale for op, _ in of_kind(kind))

    flushes = of_kind("flush")
    per_flush = {k: [] for k in (
        "self", "catalog", "txns", "files", "bytes_pp",
    )}
    upserts, propagates, txn_ms = [], [], []
    for op, spans in flushes:
        pb = [s for s in spans if s["name"] == "ingest.process_batch"]
        per_flush["self"].append(sum(self_t[s["id"]] for s in pb))
        per_flush["catalog"].append(
            sum(dur(s) for s in spans if s["name"] == "store.catalog_add")
        )
        txns = [s for s in spans if s["name"] == "commit.commit_txn"]
        per_flush["txns"].append(len(txns))
        per_flush["files"].append(sum(s["adds"] for s in txns))
        points = op.get("rows") or 1
        per_flush["bytes_pp"].append(sum(s["bytes"] for s in txns) / points)
        txn_ms += [dur(s) * 1000.0 for s in txns]
        upserts += [self_t[s["id"]] for s in spans if s["name"] == "store.upsert"]
        propagates += [
            self_t[s["id"]] for s in spans if s["name"] == "store.propagate"
        ]
    expire, compact = [], []
    for op, spans in of_kind("maintenance"):
        expire.append(sum(dur(s) for s in spans if s["name"] == "store.expire"))
        compact.append(sum(dur(s) for s in spans if s["name"] == "store.compact"))
    fetch_plan, fetch_exec, chain, wire = [], [], [], []
    for kind in ("fetch", "render", "cache_query"):
        for op, spans in of_kind(kind):
            ep = [s for s in spans if s["name"] == ENDPOINT[kind]]
            wire.append((op["seconds"] - sum(dur(s) for s in ep)) * 1000.0)
            if kind == "fetch":
                plan = sum(dur(s) for s in spans if s["name"] == "store.fetch")
                fetch_plan.append(plan * 1000.0)
                fetch_exec.append((sum(dur(s) for s in ep) - plan) * 1000.0)
            if kind == "render":
                chain.append(
                    sum(
                        dur(s) for s in spans
                        if s["name"] in ("render.parse_target", "render.apply_chain")
                    ) * 1000.0
                )
    return {
        "session.start_s": start_s,
        "session.noop_job_ms": _med(noop_ms),
        "jvm.gc_ms": float(gc_ms),
        "process.peak_rss_mb": peak_rss_mb,
        "client.op_wall_ms": _med(rec.round_totals("seconds")) * 1000.0,
        "ingest.flush_p50_s": med("flush", "seconds"),
        "ingest.flush_cpu_s": med("flush", "cpu"),
        "ingest.flush_jobs": med("flush", "jobs"),
        "ingest.flush_tasks": med("flush", "tasks"),
        "ingest.flush_self_s": _med(per_flush["self"]),
        "store.catalog_add_s": _med(per_flush["catalog"]),
        "store.upsert_s": _med(upserts),
        "store.propagate_s": _med(propagates),
        "commit.txn_ms": _med(txn_ms),
        "commit.txns_per_flush": _med(per_flush["txns"]),
        "store.files_per_flush": _med(per_flush["files"]),
        "store.live_files": float(live_files),
        "store.bytes_written_per_point": _med(per_flush["bytes_pp"]),
        "ingest.maintenance_s": med("maintenance", "seconds"),
        "ingest.maintenance_cpu_s": med("maintenance", "cpu"),
        "store.expire_s": _med(expire),
        "store.compact_s": _med(compact),
        "store.fetch_plan_ms": _med(fetch_plan),
        "serving.fetch_exec_ms": _med(fetch_exec),
        "serving.fetch_p50_ms": med("fetch", "seconds", 1000.0),
        "serving.fetch_cpu_ms": med("fetch", "cpu", 1000.0),
        "serving.render_p50_ms": med("render", "seconds", 1000.0),
        "serving.render_cpu_ms": med("render", "cpu", 1000.0),
        "serving.cache_query_p50_ms": med("cache_query", "seconds", 1000.0),
        "serving.cache_query_cpu_ms": med("cache_query", "cpu", 1000.0),
        "serving.fetch_jobs": med("fetch", "jobs"),
        "serving.render_jobs": med("render", "jobs"),
        "serving.cache_query_jobs": med("cache_query", "jobs"),
        "render.chain_plan_ms": _med(chain),
        "serving.wire_ms": _med(wire),
    }


def summary(tracer, per_layer_metrics: dict, e2e: dict, span_path: str) -> list[str]:
    """Printable lines: self time and call counts per span name, each
    per-layer metric with the end-to-end metric it maps to, and this traced
    run's own end-to-end figures (compare them with an untraced run of the
    same seed for the tracing overhead)."""
    self_t = tracer.self_times()
    by_name: dict[str, list[float]] = {}
    for s in tracer.spans:
        if s["op"] is not None:
            by_name.setdefault(s["name"], []).append(self_t[s["id"]])
    out = [
        f"# spans written to {span_path}",
        "# span self time over the timed operations (total s, calls):",
    ]
    for name in sorted(by_name, key=lambda n: -sum(by_name[n])):
        out.append(f"#   {name:28s} {sum(by_name[name]):9.3f} s  {len(by_name[name]):5d}")
    out.append("# per-layer metric -> end-to-end metric it should move:")
    for k, v in per_layer_metrics.items():
        out.append(f"#   {k:32s} {v:12.4f} {UNITS[k]:6s} -> {MOVES[k]}")
    out.append("# end-to-end figures of this traced run:")
    for k, v in sorted(e2e.items()):
        out.append(f"#   {k:24s} {v:12.4f}")
    return out
