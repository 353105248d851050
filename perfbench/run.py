"""Run one benchmark workload in this process and print its result.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 14 --trace 0

Run from the root of a checkout: the program is imported from there. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer ones). Everything the run writes lives under
``.perfbench/`` in the checkout; the run's own directory there is removed
on exit, and traced runs leave their span file beside it.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

CHECKOUT = os.getcwd()
sys.path.insert(0, CHECKOUT)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _program_present() -> None:
    if not os.path.isfile(os.path.join(CHECKOUT, "kenshin_spark", "__init__.py")):
        _fail("no kenshin_spark package in the current directory; run from a checkout")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="tiny: a few dozen metrics and one cycle, for the smoke test",
    )
    ap.add_argument(
        "--expect-wrong", action="store_true",
        help="smoke test only: corrupt one expected value, so the checks must fail",
    )
    return ap.parse_args(argv)


E2E_UNITS = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "store_bytes_per_point": "B",
}


def main(argv=None) -> int:
    args = parse_args(argv)
    _program_present()
    from perfbench import harness

    run = harness.RunDir(CHECKOUT)
    # a SIGTERM unwinds like an exception, so the cleanup below still runs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    state: dict = {}
    try:
        run.create()
        harness.configure_env(run)
        from perfbench import workloads

        if args.workload not in workloads.WORKLOADS:
            _fail(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}")
        result, summary = execute(args, run, harness, workloads, state)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            if "spark" in state:
                harness.stop_spark(state["spark"])
        finally:
            run.remove()
    for line in summary:
        print(line)
    print(json.dumps(result))
    return 0


def execute(args, run, harness, workloads, state: dict):
    from perfbench import trace as tracing

    tracer = None
    if args.trace:
        tracer = tracing.Tracer()
        tracing.install(tracer)
    size = workloads.TINY if args.size == "tiny" else workloads.FULL
    spark = state["spark"] = harness.start_spark(f"perfbench-{args.workload}")
    start_s = time.perf_counter() - PROCESS_START
    cpu = harness.cpu_clock(spark)
    jobs = harness.JobCounter(spark) if args.trace else None
    w = workloads.WORKLOADS[args.workload](
        spark, args.seed, args.seconds, size, tracer
    )
    # set-up: stage the inputs, build the store, wire the servers, then
    # warm up; the untimed operations are recorded (and traced) apart
    t = time.perf_counter()
    world = w.build(run.sub("stores"))
    build_s = time.perf_counter() - t
    t = time.perf_counter()
    untimed = workloads.Recorder(
        cpu, tracer=tracer, jobs=jobs, prefix="untimed-", strict=True
    )
    w.setup(untimed, world)
    warm_s = time.perf_counter() - t
    setup_s = time.perf_counter() - PROCESS_START

    rec = workloads.Recorder(cpu, tracer=tracer, jobs=jobs)
    noop = harness.noop_job_ms(spark)
    gc_ms = harness.jvm_gc_ms(spark)
    t_timed = time.perf_counter()
    try:
        w.run_rounds(rec, world)
        timed_s = time.perf_counter() - t_timed
        gc_ms = harness.jvm_gc_ms(spark) - gc_ms
        noop += harness.noop_job_ms(spark)
        w.wind_down(untimed, world)
        metrics = workloads.stage_metrics(w, rec, world)
        metrics["setup_s"] = setup_s
        metrics["peak_rss_mb"] = harness.peak_rss_mb(spark)
        live_files = world.live_files()
        if tracer is not None:
            tracer.unpatch()
        errors: list[str] = []
        if args.expect_wrong:
            _corrupt_one_read(w.log)
        w.check(world, errors)
    finally:
        world.close()
    summary = [
        f"# workload={args.workload} seed={args.seed} rounds={w.rounds} "
        f"timed_s={timed_s:.2f} jvm_gc_ms={gc_ms} "
        f"spark_cores={harness.SPARK_CORES} nproc={os.cpu_count()}",
        f"# setup: session_start_s={start_s:.3f} build_s={build_s:.3f} "
        f"warm_s={warm_s:.3f} noop_job_ms={[round(x, 1) for x in noop]}",
        f"# timed: op_wall_ms={metrics['op_wall_ms']:.1f} round_cpu_s="
        f"{[round(x, 3) for x in rec.round_totals('cpu')]}",
    ]
    for label, r in (("untimed", untimed), ("timed", rec)):
        for kind in sorted(r.attempted):
            ops = r.of_kind(kind)
            summary.append(
                f"# {label} ops {kind}: attempted={r.attempted[kind]} "
                f"failed={r.failed[kind]}"
                f" seconds={[round(o['seconds'], 3) for o in ops]}"
                f" cpu_s={[round(o['cpu'], 3) for o in ops]}"
            )
    for e in errors:
        summary.append(f"# CHECK FAILED: {e}")
    if tracer is None:
        out_metrics = {
            k: {"value": metrics[k], "unit": u} for k, u in E2E_UNITS.items()
        }
    else:
        from perfbench import layers

        per_layer = layers.per_layer(
            tracer, rec, untimed, start_s=start_s, noop_ms=noop,
            gc_ms=gc_ms, peak_rss_mb=metrics["peak_rss_mb"],
            live_files=live_files,
        )
        span_path = os.path.join(
            CHECKOUT, ".perfbench", f"spans-{args.workload}-{args.seed}.json"
        )
        tracer.dump(span_path)
        summary += layers.summary(tracer, per_layer, metrics, span_path)
        out_metrics = {
            k: {"value": v, "unit": layers.UNITS[k]} for k, v in per_layer.items()
        }
    attempted = sum(rec.attempted.values())
    failed = sum(rec.failed.values())
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": out_metrics,
    }
    return result, summary


def _corrupt_one_read(log: list) -> None:
    """Make one recorded cache-query answer off by one in one value, in
    place, so the checks must report it."""
    for k, ev in enumerate(log):
        if ev[0] == "read" and ev[1].kind == "cache_query" and ev[3]["datapoints"]:
            pts = [list(p) for p in ev[3]["datapoints"]]
            pts[0][1] = (pts[0][1] or 0.0) + 1.0
            log[k] = (*ev[:3], {"datapoints": pts})
            return
    raise RuntimeError("no cache query to corrupt")


if __name__ == "__main__":
    sys.exit(main())
