"""flagship_counts on local[1] in its own process: the 1-core side of
the traced run's N-core scaling pair.

    python3 perfbench/calibrate.py <seed> <rows>

Prints ``{"run_s": <seconds>}`` for one timed run after a warm-up.
"""

from __future__ import annotations

import json
import sys

import harness
import workloads


def main() -> int:
    seed, rows = int(sys.argv[1]), int(sys.argv[2])
    harness.require_library()
    spark = harness.start_spark(1)
    try:
        wl = workloads.FlagshipCounts()
        case = wl.prepare(lambda: spark, seed, rows)
        wl.run(spark, case.warm)
        dt, out = harness.timed(lambda: wl.run(spark, case.path))
        bad = wl.check(case, out)
    finally:
        harness.stop_spark(spark)
        harness.shutdown_jvm()
    if bad:
        sys.exit(f"calibrate: oracle mismatch {bad}")
    print(json.dumps({"run_s": dt}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
