#!/usr/bin/env python3
"""Check that the traced run's deterministic counts repeat exactly.

    python3 perfbench/repeat_check.py [--seed N] [--seconds S] [workload ...]

Runs ``run.py --trace 1`` twice per workload with the same seed and
compares the counts the seed fixes (jobs, eager jobs, jobs per commit,
files and data bytes written). Total bytes written also count the
manifests, which record each commit's wall-clock time, so they may differ
by a few bytes; they are printed, not compared. Prints one JSON object;
exits 1 on any difference.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

COUNTS = ["suite.eager_jobs", "scheduler.jobs",
          "table_format.jobs_per_commit", "table_format.files_written",
          "table_format.data_bytes_written",
          "incremental_view.refresh_jobs", "table_stream.jobs_per_pass"]
SHOWN = ["table_format.bytes_written"]
HERE = os.path.dirname(os.path.abspath(__file__))


def _traced(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "1"],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True,
        check=True).stdout
    res = json.loads(out.strip().splitlines()[-1])
    return {k: res["metrics"][k]["value"] for k in COUNTS + SHOWN}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("workloads", nargs="*",
                    default=["analytics", "pipeline"])
    args = ap.parse_args()
    report, same = {}, True
    for w in args.workloads:
        a = _traced(w, args.seed, args.seconds)
        b = _traced(w, args.seed, args.seconds)
        diff = {k: [a[k], b[k]] for k in COUNTS if a[k] != b[k]}
        same &= not diff
        report[w] = {"counts": a, "differ": diff,
                     "second": {k: b[k] for k in SHOWN}}
    print(json.dumps({"repeat": same, "seed": args.seed, **report}))
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
