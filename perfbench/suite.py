"""Run every workload in BENCHMARK.json once and print its end-to-end
metrics with their units, plus failed_frac.

    python3 perfbench/suite.py [--seed 1] [--trace 0]

Each workload runs as its own ``perfbench/run.py`` process, one after
the other. Exits non-zero if any workload fails or disagrees with the
oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from harness import ROOT


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for w in spec["workloads"]:
        cmd = spec["command"] + [
            "--workload", w["name"], "--seed", str(args.seed),
            "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                              timeout=900)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{w['name']}: exit {proc.returncode}, no result")
            ok = False
            continue
        res = json.loads(lines[-1])
        frac = res["failed"] / res["attempted"]
        ok = ok and res["correct"] and res["failed"] == 0
        print(f"{w['name']}: correct={res['correct']} "
              f"failed_frac={frac:.4f} ({res['failed']}/{res['attempted']})")
        for name, m in res["metrics"].items():
            print(f"  {name:34s} {m['value']:>16.4f} {m['unit']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
