"""Per-op Spark job sites of one lakebench workload.

Usage: python tools/opsites.py <workload> [--seed N] > plans/<topic>/<workload>_<label>.txt

Runs the workload's set-up once and one round of its ops in one
SparkSession at local[nproc], the session lakebench builds, then prints,
for each op, its jobs, the stages that ran and their tasks, and one line
per job with its engine call site (`tools/jobdump.py --sites`: innermost
engine frames first; a job the streaming engine launches on its own
keeps Spark's description). The per-op totals are the counts behind
lakebench's `jobs_per_op`, `stages_per_op` and `tasks_per_op` (their
means over the round). Everything it writes goes under
`.lakebench_work/`, removed at exit. Run it from the repository root.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "lakebench"), os.path.join(ROOT, "tools"), ROOT]

import run as lakebench  # noqa: E402  (lakebench/run.py)
from jobdump import job_sites, label_jobs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".lakebench_work", f"opsites-{args.workload}-s{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = lakebench.build_session(cores, work)
    sc = spark.sparkContext
    try:
        lakebench.pin_commit_clock()
        wl = WORKLOADS[args.workload](lakebench.Context(spark, args.seed, work))
        try:
            wl.setup()
            wl.prepare()
            label_jobs(sc)
            wl.start_round()
            print(f"# {args.workload} seed {args.seed}, local[{cores}]: set-up, then one round")
            totals = [0, 0, 0]
            ops = 0
            for depth, op in enumerate(wl.ops()):
                j0 = lakebench.next_job_id(spark)
                op()
                sites = job_sites(sc, j0, lakebench.next_job_id(spark))
                counts = [len(sites), sum(s[1] for s in sites), sum(s[2] for s in sites)]
                totals = [a + b for a, b in zip(totals, counts)]
                ops += 1
                print(f"\n## op {depth}: {counts[0]} jobs, {counts[1]} stages, {counts[2]} tasks")
                print("# job  stages  tasks  call site (engine frames, innermost first)")
                for job_id, stages, tasks, desc in sites:
                    print(f"{job_id:5d}  {stages:6d}  {tasks:5d}  {desc}")
            wrong = wl.end_round()
            print(
                f"\n# per op: {totals[0] / ops:.2f} jobs, {totals[1] / ops:.2f} stages,"
                f" {totals[2] / ops:.2f} tasks; end state {'WRONG' if wrong else 'correct'}"
            )
        finally:
            wl.close()
    finally:
        lakebench.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
