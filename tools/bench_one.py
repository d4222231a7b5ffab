#!/usr/bin/env python
"""Time individual queries exactly the way bench.py does (noop sink,
clearCache per pass, ExecClock executor-time deltas) without running
the whole headline set — the guide-§1 isolation tool for optimization
A/B runs. Usage:

    python tools/bench_one.py <name> [<name> ...] [--passes N]

Prints per-query wall/exec per pass plus the floor.
"""

from __future__ import annotations

import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from bench import SF_DIR, ExecClock, bench_layout  # noqa: E402
from dbx_workspace_and_emr_iceberg_spark.registry import all_queries  # noqa: E402
from dbx_workspace_and_emr_iceberg_spark.session import get_spark  # noqa: E402


def parse_passes(raw: str) -> int:
    """The --passes value as a positive int; anything else exits with
    a usage message before Spark starts, not a raw int() traceback."""
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n < 1:
        sys.exit(f"--passes needs a positive integer, got {raw!r}")
    return n


def main() -> None:
    # accept both --passes=N and --passes N (ADVICE r19: the split("=")
    # form raised IndexError on bare --passes and swallowed the value
    # token into the query-name list).  Only the EXACT spellings are
    # recognized; any other --flag is ignored like the old parser did
    # (review-pass r20: treating unknown --flags as query names would
    # crash with KeyError after paying Spark startup).
    argv = sys.argv[1:]
    args: list[str] = []
    passes = 3
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--passes":
            if i + 1 >= len(argv):
                sys.exit("--passes needs a value (N or --passes=N)")
            passes = parse_passes(argv[i + 1])
            i += 1
        elif a.startswith("--passes="):
            passes = parse_passes(a.split("=", 1)[1])
        elif a.startswith("--"):
            pass  # unknown flag: ignored, as before r20
        else:
            args.append(a)
        i += 1
    run_dir = bench_layout(SF_DIR)
    spark = get_spark(
        app_name="spark-graft-bench-one",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.sql.files.openCostInBytes": str(128 * 1024 * 1024),
        },
    )
    queries = all_queries()
    # warmup (codegen/classloading) on the smallest fixture
    queries["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()
    clock = ExecClock(spark)
    clock.delta_s()
    for name in args:
        walls, execs = [], []
        for _ in range(passes):
            spark.catalog.clearCache()
            clock.delta_s()
            t0 = time.perf_counter()
            queries[name].fn(spark, run_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            walls.append(round(time.perf_counter() - t0, 3))
            execs.append(clock.delta_s())
        print(
            f"{name}: walls={walls} execs={execs} "
            f"floor={min(walls)} exec_at_floor={execs[walls.index(min(walls))]}",
            flush=True,
        )


if __name__ == "__main__":
    main()
