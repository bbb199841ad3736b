"""Self-tests of the benchmark, on tiny inputs.

    python3 perfbench/selftest.py

For every workload: an untraced and a traced smoke run must print exactly
the metric names and units BENCHMARK.json lists, with ``correct`` true;
a run with ``--corrupt`` (one output row of the cold pass dropped before
its check) must report ``failed`` > 0. Exits non-zero on the first
mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny", *extra]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    for w in (w["name"] for w in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(w, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want or not res["correct"]:
                sys.exit(f"{w} trace={trace}: correct={res['correct']} "
                         f"missing {sorted(set(want) - set(got))} "
                         f"extra {sorted(set(got) - set(want))} "
                         f"units {[k for k in want if got.get(k) not in (None, want[k])]}")
            for k, v in res["metrics"].items():
                print(f"{w:18s} {k:36s} {v['value']:14.6g} {v['unit']}")
        bad = run(w, 0, "--corrupt")
        if bad["failed"] < 1 or bad["correct"]:
            sys.exit(f"{w}: a dropped output row was not detected: {bad}")
        print(f"{w}: corrupted output detected, failed {bad['failed']}/{bad['attempted']}")
    print("selftest ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
