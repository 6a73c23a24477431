#!/usr/bin/env python3
"""The traced run's operation counts must repeat exactly for one seed.

Runs `run.py --trace 1` twice per workload with the same seed and compares
every count metric (jobs, tasks, codegen compiles, rows read). Times are
not compared. Run from the root of a checkout:

    python3 perfbench/test_trace_counts.py [workload ...]

Exits 0 when every count repeats, 1 otherwise.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = [
    "spark.jobs_per_op", "spark.tasks_per_op", "spark.codegen_compiles_per_op",
    "spark.rows_read_per_op", "spark.rows_read_per_event",
    "topic.publish_jobs", "topic.publish_rows_read", "topic.files",
    "cascade.poll_jobs", "cascade.poll_rows_read",
    "cascade.commit_jobs", "cascade.commit_rows_read",
]


def traced(workload, seed):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "10", "--trace", "1"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"], f"{workload}: traced run reported wrong outputs"
    return {m: res["metrics"][m]["value"] for m in EXACT}


def main(workloads):
    ok = True
    for w in workloads:
        a, b = traced(w, 7), traced(w, 7)
        for m in EXACT:
            same = a[m] == b[m]
            ok &= same
            print(f"{'ok  ' if same else 'DIFF'} {w:16s} {m:32s} {a[m]!r:>14} {b[m]!r:>14}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or ["point_read", "produce_consume"]))
