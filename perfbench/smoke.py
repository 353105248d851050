"""The benchmark's own smoke test.

    python3 perfbench/smoke.py

Runs every workload at the tiny size with every check on, once untraced
and once traced, and asserts a correct result that carries every metric
``BENCHMARK.json`` names; then runs each workload again with one expected
value deliberately wrong and asserts that the checks catch it and nothing
else; and asserts that the benchmark refuses to run where the program is
missing. Run from the root of a checkout; exits non-zero on any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")


def run(args: list[str], cwd: str | None = None) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, RUN, "--seconds", "1", *args],
        capture_output=True, text=True, cwd=cwd,
    )
    return p.returncode, p.stdout.strip().splitlines()


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    want = {
        0: {m["name"] for m in bench["end_to_end"]},
        1: {m["name"] for m in bench["per_layer"]},
    }
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            code, out = run(["--workload", w, "--seed", "7", "--trace", str(trace), "--size", "tiny"])
            res = json.loads(out[-1]) if code == 0 and out else None
            if res is None:
                problems.append(f"{w} trace={trace}: exit {code}")
                continue
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: {[ln for ln in out if 'FAILED' in ln]}")
            if set(res["metrics"]) != want[trace]:
                problems.append(f"{w} trace={trace}: metrics {sorted(res['metrics'])}")
            print(f"ok: {w} trace={trace} attempted={res['attempted']}", flush=True)
        code, out = run(["--workload", w, "--seed", "7", "--size", "tiny", "--expect-wrong"])
        res = json.loads(out[-1]) if code == 0 and out else None
        caught = [ln for ln in out if "CHECK FAILED" in ln]
        if res is None or res["correct"] or len(caught) != 1 or "cache query" not in caught[0]:
            problems.append(f"{w}: a wrong expected value was not caught alone: {caught}")
        else:
            print(f"ok: {w} wrong expected value caught: {caught[0]}", flush=True)
    # a directory holding only the benchmark must be refused
    scratch = os.path.join(os.getcwd(), ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=scratch)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"))
        shutil.copy("BENCHMARK.json", bare)
        code, out = run(["--workload", "ingest", "--seed", "1"], cwd=bare)
        if code == 0:
            problems.append("ran without the program present")
        else:
            print(f"ok: refused without the program (exit {code})")
    finally:
        shutil.rmtree(bare)
    for p in problems:
        print(f"SMOKE FAILED: {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
