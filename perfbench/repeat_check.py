#!/usr/bin/env python3
"""Structural-repeatability check: two traced runs at one seed must
report identical structural counters.

    python3 perfbench/repeat_check.py --workload lakehouse_dml --seed 1

Counters compared: Spark jobs, stages and exchanges, the lakehouse
file and byte counts, and write_bytes_per_row.  Exits 1 when any of
them differs and prints every per-layer counter that did not repeat
(timings are expected to differ and are not listed).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MUST_REPEAT = [
    "session.jobs",
    "session.stages",
    "session.exchanges",
    "sources.lakehouse.files_live",
    "sources.lakehouse.files_added",
    "sources.lakehouse.files_removed",
    "sources.lakehouse.bytes_written",
    "dml.write_bytes_per_row",
]


def traced_run(workload: str, seed: int) -> dict[str, float]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    )
    result = json.loads(p.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    a, b = traced_run(args.workload, args.seed), traced_run(args.workload, args.seed)
    for k in MUST_REPEAT:
        print(f"{k}: {a[k]!r} vs {b[k]!r}")
    bad = 0
    for k in a:
        if k.endswith("_s") or k in ("process.rss_mb", "trace.overhead_frac") or a[k] == b[k]:
            continue
        tag = "MUST REPEAT" if k in MUST_REPEAT else "differs"
        bad += k in MUST_REPEAT
        print(f"{tag:12s} {k}: {a[k]!r} vs {b[k]!r}")
    print(f"{args.workload} seed {args.seed}: " + ("REPEATS" if not bad else f"{bad} required counter(s) differ"))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
