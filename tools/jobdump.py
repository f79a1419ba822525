"""Steady-state job-count + plan dump for one registered query — the
generator for the committed `plans/r*/<query>_{before,after}.txt` evidence
files (r15 produced them ad hoc; this pins the methodology).

Usage: python tools/jobdump.py <query> [sf_dir] [label] > plans/rNN/<query>_<label>.txt

Methodology (bench.py's, so job counts line up with bench timings):
- pass 1 (untimed): absorbs one-time fixture/index builds + JIT warmup;
- pass 2 (reported): wall time and a dagScheduler nextJobId() diff — the
  job count covers EVERYTHING the query ran (micro-batch drains included),
  which is the contention-immune fixed-cost metric for store-backed ops;
- pass 3 (untimed): `.explain('formatted')` of the returned DataFrame with
  AQE off so the plan prints resolved (tools/explain_audit.py convention).

`--sites` (python tools/jobdump.py <query> [sf_dir] [label] --sites)
replaces the plan dump with one line per pass-2 job: its engine call site
(innermost engine frames, innermost first), the stages that ran (not
skipped for reused shuffle output) and their tasks. Every DataFrame
action and DataFrameWriter save sets the Spark job description to the
engine frames calling it; a job the streaming engine launches on its own
keeps Spark's description.
"""

from __future__ import annotations

import io
import os
import sys
import time
import traceback
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emr_apache_iceberg_workshop_spark.plans.registry import registry  # noqa: E402
from emr_apache_iceberg_workshop_spark.session import build_session  # noqa: E402


ENGINE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "emr_apache_iceberg_workshop_spark",
) + os.sep
# Spark 4: `pyspark.sql.DataFrame` is the abstract parent; the classic
# (non-Connect) session returns `pyspark.sql.classic.dataframe.DataFrame`,
# whose methods are the ones that run.
_ACTIONS = (
    "collect", "count", "first", "head", "take", "tail", "isEmpty", "show",
    "toPandas", "toArrow", "toLocalIterator", "foreach", "foreachPartition",
    "localCheckpoint", "checkpoint",
)
_SAVES = (
    "save", "parquet", "json", "csv", "orc", "text", "saveAsTable", "insertInto",
)


def engine_site(depth: int = 3) -> str | None:
    """The innermost `depth` engine frames of the current stack, innermost
    first: `tables.py:140 _probe_collect < plans/dedup.py:2456 ...`."""
    frames = [
        f"{os.path.relpath(fr.filename, ENGINE)}:{fr.lineno} {fr.name}"
        for fr in reversed(traceback.extract_stack())
        if fr.filename.startswith(ENGINE)
    ]
    return " < ".join(frames[:depth]) or None


def label_jobs(sc) -> None:
    """Wrap every DataFrame action and DataFrameWriter save so the jobs
    it launches carry their engine call site as the job description."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    key = "spark.job.description"

    def wrap(cls, name):
        orig = getattr(cls, name)

        def labelled(self, *args, **kwargs):
            site = engine_site()
            if site is None:
                return orig(self, *args, **kwargs)
            prev = sc.getLocalProperty(key)
            sc.setLocalProperty(key, site)
            try:
                return orig(self, *args, **kwargs)
            finally:
                sc.setLocalProperty(key, prev)

        setattr(cls, name, labelled)

    for name in _ACTIONS:
        wrap(DataFrame, name)
    for name in _SAVES:
        wrap(DataFrameWriter, name)


def job_sites(sc, first: int, stop: int) -> list[tuple[int, int, int, str]]:
    """(job id, stages run, their tasks, description) per job in
    [first, stop), read from the status store once its listener caught
    up; stages skipped for reused shuffle output are not counted."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(60_000)
    store = jsc.statusStore()
    out = []
    for job_id in range(first, stop):
        job = store.job(job_id)
        stages = tasks = 0
        for sid in [int(x) for x in str(job.stageIds().mkString(",")).split(",") if x]:
            stage = store.lastStageAttempt(sid)
            if stage.numCompleteTasks() == 0:
                continue
            stages += 1
            tasks += stage.numTasks()
        desc = job.description()
        out.append(
            (job_id, stages, tasks, str(desc.get()) if desc.isDefined() else str(job.name()))
        )
    return out


def main() -> int:
    sites = "--sites" in sys.argv
    if sites:
        sys.argv.remove("--sites")
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    label = sys.argv[3] if len(sys.argv) > 3 else "after"
    spec = registry()[name]

    spark = build_session(
        "eiws-jobdump",
        extra_confs={"spark.sql.streaming.stateStore.maintenanceInterval": "2h"},
    )
    sc = spark.sparkContext
    if sites:
        label_jobs(sc)

    def next_job_id() -> int:
        # py4j auto-unboxes the AtomicInteger's value on this build
        jid = sc._jsc.sc().dagScheduler().nextJobId()
        return jid if isinstance(jid, int) else jid.get()

    # pass 1: fixture build + warmup (bench.py does the same, untimed)
    t0 = time.time()
    spec.fn(spark, sf_dir).count()
    cold = time.time() - t0
    spark.catalog.clearCache()

    # pass 2: steady state, job-count diff
    j0 = next_job_id()
    t0 = time.time()
    n = spec.fn(spark, sf_dir).count()
    wall = time.time() - t0
    jobs = next_job_id() - j0
    spark.catalog.clearCache()

    if sites:
        print(f"# {name} — {label} (sf_dir={sf_dir})")
        print(
            f"# steady-state run (pass 2): {wall:.2f}s wall, {jobs} Spark jobs,"
            f" {n} rows (pass 1 cold: {cold:.2f}s)"
        )
        print("# job  stages  tasks  call site (engine frames, innermost first)")
        for job_id, stages, tasks, desc in job_sites(sc, j0, j0 + jobs):
            print(f"{job_id:5d}  {stages:6d}  {tasks:5d}  {desc}")
        spark.stop()
        return 0

    # pass 3: formatted plan, AQE off so it prints resolved
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    df = spec.fn(spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    print(f"# {name} — {label} (sf_dir={sf_dir})")
    print(
        f"# steady-state run (pass 2, bench.py methodology): {wall:.2f}s wall,"
        f" {jobs} Spark jobs, {n} rows (pass 1 cold: {cold:.2f}s)"
    )
    print("# plan: .explain('formatted') of the returned DataFrame, AQE off")
    print("# (third, untimed build; store-backed queries scan the store the")
    print("#  steady-state run maintained)")
    print()
    print(buf.getvalue())
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
