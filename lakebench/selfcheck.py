"""Determinism self-check: for one seed, the counts that must repeat do.

    python3 lakebench/selfcheck.py [--seed 3] [workload ...]

Runs each workload twice in separate processes with the same seed and
exits non-zero unless the Spark job, stage and task counts per op and
`stored_bytes_per_input_byte` are identical across the two runs and both
runs are correct. These values are taken over a workload's first round,
so each run measures for 0 seconds: it runs that one round and no more.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXACT = ("jobs_per_op", "stages_per_op", "tasks_per_op", "stored_bytes_per_input_byte")


def run_once(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "0", "--trace", "0"],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=3)
    p.add_argument("workloads", nargs="*", default=sorted(WORKLOADS))
    args = p.parse_args(argv)
    ok = True
    for w in args.workloads:
        a, b = (run_once(w, args.seed) for _ in range(2))
        same = all(a["metrics"][k]["value"] == b["metrics"][k]["value"] for k in EXACT)
        good = same and a["correct"] and b["correct"]
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {w}: " + ", ".join(
            f"{k} {a['metrics'][k]['value']!r} / {b['metrics'][k]['value']!r}" for k in EXACT)
            + f"; correct {a['correct']} / {b['correct']}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
