#!/usr/bin/env python3
"""Count-repeat check and tracing overhead of one workload and seed.

Runs the workload traced twice and untraced once, all with the same seed.
The per-layer counts of the two traced runs must repeat exactly: seconds
differ from run to run and between hosts, but counts of jobs, stages, tasks,
compiles, shuffle bytes and result rows do not, so they are what carries
over between a small machine and a wide one. The tracing overhead is the
traced median latency minus the untraced one.

    python3 perfbench/repeat_check.py --workload sql_mix --seed 7 --seconds 10

Prints one JSON line naming the counts that differed (with both values) and
the overhead, and exits 1 if any count differed.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

COUNTS = (
    "queries.build_jobs",
    "engine.result_rows",
    "streaming.batches",
    "streaming.state_tasks",
    "codegen.compiles",
    "scheduler.jobs",
    "scheduler.stages",
    "scheduler.tasks",
    "scheduler.failed_tasks",
    "shuffle.write_bytes",
    "shuffle.read_bytes",
    "shuffle.spill_bytes",
)


def run(args, trace: int) -> dict:
    """The run's metrics, and the wall-clock figures of its report line."""
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    out = subprocess.run(
        [sys.executable, script, "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    report, result = (json.loads(line) for line in out.stdout.strip().splitlines()[-2:])
    return {k: v["value"] for k, v in {**report["report"]["wall_clock"], **result["metrics"]}.items()}


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, default=10)
    args = parser.parse_args()
    first, second, untraced = run(args, 1), run(args, 1), run(args, 0)
    differ = {k: [first[k], second[k]] for k in COUNTS if first[k] != second[k]}
    traced_p50 = (first["trace.latency_p50_s"] + second["trace.latency_p50_s"]) / 2
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "repeat": not differ, "differ": differ,
        "counts": {k: first[k] for k in COUNTS},
        "latency_p50_s": {"traced": traced_p50, "untraced": untraced["latency_p50_s"]},
        "trace_overhead_s": traced_p50 - untraced["latency_p50_s"],
    }))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
