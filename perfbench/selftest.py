#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (sf0.001 tables, 2 months x 2
pages of TMDB JSON).

    python3 perfbench/selftest.py [workload ...]

For each workload (default: those in BENCHMARK.json) it checks that an
untraced run prints every end-to-end metric of BENCHMARK.json with its unit
and no failure, that a traced run prints every per-layer metric with its
unit, and that a run with ``--corrupt`` (every result altered before its
check) reports every operation as failed. Exits 1 on the first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--scale", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"FAIL {' '.join(cmd)}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL {what}")
    print(f"ok   {what}", flush=True)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = argv or [w["name"] for w in bench["workloads"]]
    for w in workloads:
        for trace, section in (("0", "end_to_end"), ("1", "per_layer")):
            got = run(w, "--trace", trace)
            want = {m["name"]: m["unit"] for m in bench[section]}
            units = {k: v["unit"] for k, v in got["metrics"].items()}
            expect(units == want, f"{w} --trace {trace}: every {section} metric, with its unit")
            expect(got["correct"] and got["failed"] == 0 and got["attempted"] > 0,
                   f"{w} --trace {trace}: {got['attempted']} operations, none failed")
            if trace == "0":
                zero = [k for k, v in got["metrics"].items() if v["value"] <= 0]
                expect(not zero, f"{w}: no end-to-end metric is 0 {zero}")
        got = run(w, "--trace", "0", "--corrupt")
        expect(not got["correct"] and got["failed"] == got["attempted"] > 0,
               f"{w} --corrupt: error rate {got['failed']}/{got['attempted']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
