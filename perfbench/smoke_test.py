#!/usr/bin/env python3
"""The benchmark's own test: every workload in smoke mode, checks included.

Usage (from the root of a graft checkout):

    python3 perfbench/smoke_test.py

Smoke mode runs each workload on a tiny corpus with one short round and no
warm-up, once untraced and once traced. The test passes when every run
exits 0, prints a result line with correct = true and no failed operation,
and reports exactly the metrics BENCHMARK.json names for its mode.
"""

import json
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = {"0": {m["name"] for m in spec["end_to_end"]},
             "1": {m["name"] for m in spec["per_layer"]}}
    failures = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace in ("0", "1"):
            t0 = time.time()
            p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", w,
                                "--seed", "7", "--seconds", "1", "--trace", trace, "--smoke"],
                               cwd=ROOT, capture_output=True, text=True)
            took = time.time() - t0
            lines = p.stdout.strip().splitlines()
            try:
                r = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                r = None
            ok = (p.returncode == 0 and r is not None and r["correct"] is True
                  and r["failed"] == 0 and r["attempted"] >= 1
                  and set(r["metrics"]) == names[trace])
            print(f"{w} trace={trace}: {'ok' if ok else 'FAILED'} in {took:.0f} s")
            if not ok:
                failures.append(f"{w} trace={trace}")
                sys.stderr.write(p.stderr[-4000:])
                print(p.stdout[-2000:])
    if failures:
        print("failed:", ", ".join(failures))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
