"""Run workloads repeatedly and print each metric's spread.

    python3 perfbench/spread.py --runs 10 --seed0 100
    python3 perfbench/spread.py --workloads serve --runs 5 --overhead

For every workload and metric it prints the median, the quartiles (as
``statistics.quantiles(n=4)`` gives them), the interquartile range as a
share of the median, and the min/max spread. ``--overhead`` also makes a
traced run for every seed and reports, per end-to-end metric, the traced
median against the untraced one. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one_run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(result JSON, end-to-end figures printed by a traced run)."""
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    lines = out.strip().splitlines()
    traced_e2e, in_e2e = {}, False
    for ln in lines[:-1]:
        if ln.startswith("# end-to-end figures"):
            in_e2e = True
        elif in_e2e and ln.startswith("#   "):
            name, value = ln[1:].split()
            traced_e2e[name] = float(value)
    return json.loads(lines[-1]), traced_e2e


def describe(values: list[float]) -> str:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    iqr = (q3 - q1) / med if med else float("nan")
    mm = (max(values) - min(values)) / med if med else float("nan")
    return (
        f"median={med:.4f} q1={q1:.4f} q3={q3:.4f} "
        f"iqr/median={iqr:.3f} (max-min)/median={mm:.3f} n={len(values)}"
    )


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for w in args.workloads:
        values: dict[str, list[float]] = {}
        traced: dict[str, list[float]] = {}
        fails = []
        for k in range(args.runs):
            seed = args.seed0 + k
            res, _ = one_run(w, seed, args.seconds, 0)
            fails.append((res["attempted"], res["failed"], res["correct"]))
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{w} seed={seed} " + " ".join(
                f"{n}={m['value']:.4f}" for n, m in res["metrics"].items()
            ), flush=True)
            if args.overhead:
                _, e2e = one_run(w, seed, args.seconds, 1)
                for name, v in e2e.items():
                    traced.setdefault(name, []).append(v)
        print(f"== {w}: (attempted, failed, correct) per run: {fails}")
        for name, vs in values.items():
            flag = ""
            if name in bounds and name != "setup_s":
                q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) >= 2 else (vs[0],) * 3
                share = (q3 - q1) / statistics.median(vs)
                flag = " OK" if share <= bounds[name] else " OVER BOUND"
                flag += f" (bound {bounds[name]})"
            print(f"   {name:24s} {describe(vs)}{flag}")
        if args.overhead:
            print(f"== {w}: tracing overhead (traced median / untraced median - 1)")
            for name, vs in traced.items():
                if name in values:
                    base = statistics.median(values[name])
                    print(f"   {name:24s} {statistics.median(vs) / base - 1:+.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
