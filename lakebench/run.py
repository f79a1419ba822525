"""Lake benchmark: one workload, one process, one closed-loop client.

    python3 lakebench/run.py --workload medallion_cdc --seed 1 --seconds 10 --trace 0

Run from the repository root. The program builds one SparkSession at
local[nproc], sets the workload up (`setup_s`), runs rounds of ops on
clones of the set-up state for `--seconds`, checks every output against
the workload's model and prints one JSON object as the last stdout line.
`--trace 0` reports the end-to-end metrics; `--trace 1` traces every
other round and reports the per-layer metrics, including the tracing
overhead, and writes the spans to `.lakebench_out/`. See
lakebench/README.md.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

PER_LAYER = [
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
    "spark.shuffle_write_bytes", "spark.input_bytes",
    "sources.discover_s", "sources.files_listed", "sources.checkpoint_s",
    "pipelines.raw_bronze_s", "pipelines.bronze_silver_s",
    "tables.write_s", "tables.merge_s", "tables.commit_s", "tables.meta_json_bytes",
    "tables.live_files", "tables.delete_files", "tables.scan_plan_s", "tables.scan_relations",
    "tables.files_read",
    "operators.union_find_s", "operators.components_s", "plans.cluster_apply_s",
    "streaming.trigger_s", "streaming.add_batch_s", "streaming.wal_s", "streaming.planning_s",
    "trace.overhead_s", "peak_rss_mb",
    "latency.op_p50_s", "latency.op_tail_s", "latency.ops_per_s", "latency.input_rows_per_s",
]
# first matching suffix wins
_UNITS = {"ops_per_s": "1/s", "rows_per_s": "rows/s", "_s": "s", "_bytes": "bytes", "_mb": "MB"}
# set-ups per run; `setup_s` is their median
SETUPS = 3
# StreamingQueryProgress.durationMs key per streaming metric
_STREAM_KEYS = {"streaming.trigger_s": "triggerExecution", "streaming.add_batch_s": "addBatch",
                "streaming.wal_s": "walCommit", "streaming.planning_s": "queryPlanning"}


def unit_of(name: str) -> str:
    for suffix, unit in _UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Context:
    def __init__(self, spark, seed: int, work: str, tracer=None):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()


def pin_commit_clock() -> None:
    """Give every SnapshotTable the deterministic commit clock the
    constructor accepts, so `_meta.json` bytes repeat for a seed."""
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    ticks = itertools.count(1)
    orig_init = SnapshotTable.__init__

    def init(self, spark, root, clock=None):
        orig_init(self, spark, root, clock=clock or (lambda: 1_700_000_000.0 + next(ticks)))

    SnapshotTable.__init__ = init


def build_session(cores: int, work: str):
    from emr_apache_iceberg_workshop_spark.session import build_session as engine_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = os.environ["TMPDIR"] = tmp
    spark = engine_session("lakebench", master=f"local[{cores}]", shuffle_partitions=cores, extra_confs={
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and so its Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def install_tracing(tracer) -> None:
    """Wrap the public entry points of each layer (see README.md)."""
    import emr_apache_iceberg_workshop_spark.pipelines as pipelines
    from emr_apache_iceberg_workshop_spark.operators import graph
    from emr_apache_iceberg_workshop_spark.plans import dedup
    from emr_apache_iceberg_workshop_spark.sources import checkpoints, incremental_files
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    w = tracer.wrap
    w(incremental_files.IncrementalFileSource, "get_new_files", "sources.discover")
    orig_list = incremental_files.LocalFSLister.list

    def counting_list(self):
        for item in orig_list(self):
            tracer.count("sources.files_listed", 1)
            yield item

    incremental_files.LocalFSLister.list = counting_list
    w(checkpoints.CheckpointStore, "load", "sources.checkpoint")
    w(checkpoints.CheckpointStore, "save", "sources.checkpoint")
    w(pipelines, "run_raw_bronze", "pipelines.raw_bronze")
    w(pipelines, "run_bronze_silver", "pipelines.bronze_silver")
    w(SnapshotTable, "write", "tables.write")
    w(SnapshotTable, "merge", "tables.merge")
    w(SnapshotTable, "_commit", "tables.commit")

    def scan_counts(df):
        with tracer.span("trace.bookkeeping"):
            plan = df._jdf.queryExecution().analyzed().toString()
            tracer.count("tables.scan_relations", plan.count("Relation ["))
            tracer.count("tables.files_read", len(df.inputFiles()))

    for name in ("scan", "scan_at", "scan_incremental", "scan_as_of", "history", "snapshots_table",
                 "files_table"):
        w(SnapshotTable, name, "tables.scan_plan", on_result=scan_counts)
    w(graph, "union_find_labels", "operators.union_find")
    w(graph, "connected_components", "operators.components")
    w(dedup, "apply_cdc_batch_clusters", "plans.cluster_apply")


def table_state(spark, roots: list[str]) -> dict[str, float]:
    from emr_apache_iceberg_workshop_spark.tables import SnapshotTable

    out = {"tables.meta_json_bytes": 0.0, "tables.live_files": 0.0, "tables.delete_files": 0.0}
    for root in roots:
        out["tables.meta_json_bytes"] += os.path.getsize(os.path.join(root, "_meta.json"))
        content = [r[0] for r in SnapshotTable(spark, root).files_table().select("content").collect()]
        out["tables.live_files"] += sum(1 for c in content if c == 0)
        out["tables.delete_files"] += sum(1 for c in content if c != 0)
    return out


def run(args) -> dict:
    import emr_apache_iceberg_workshop_spark  # noqa: F401  (fails fast outside a full checkout)
    from tracing import Tracer

    from workloads import WORKLOADS, WrongResult

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    cores = os.cpu_count() or 1
    load_before = os.getloadavg()
    work = os.path.join(ROOT, ".lakebench_work", f"{args.workload}-s{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = build_session(cores, work)
    phases = {"start": time.perf_counter() - T_START}
    try:
        pin_commit_clock()
        tracer = Tracer(spark) if args.trace else None
        ctx = Context(spark, args.seed, work, tracer)
        if tracer is not None:
            install_tracing(tracer)
        wl = WORKLOADS[args.workload](ctx)
        try:
            setups = []
            for _ in range(SETUPS):
                t0 = time.perf_counter()
                wl.setup()
                setups.append(time.perf_counter() - t0)
            phases["setup"] = sum(setups)
            t0 = time.perf_counter()
            wl.prepare()
            phases["prepare"] = time.perf_counter() - t0
            result = measure(spark, wl, ctx, args.seconds, WrongResult)
            result["setup_s"] = statistics.median(setups)
            result["setups_s"] = setups
            if tracer is not None:
                tracer.active = False
                result["state"] = table_state(spark, wl.tables())
                if hasattr(wl, "progress"):
                    result["stream"] = wl.progress
        finally:
            wl.close()
        result["peak_rss_mb"] = vm_hwm_mb("self") + vm_hwm_mb(spark._jvm.ProcessHandle.current().pid())
        metrics = per_layer(result, tracer, args) if tracer is not None else end_to_end(result)
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        phases["stop"] = time.perf_counter() - t0
    host = {"nproc": cores, "master": f"local[{cores}]",
            "loadavg_before": list(load_before), "loadavg_after": list(os.getloadavg())}
    print("host " + json.dumps(host), flush=True)
    phases["loop"] = result["wall"]
    ops = result["ops"]
    print("detail " + json.dumps({"phases_s": {k: round(v, 2) for k, v in phases.items()},
                                  "setups_s": [round(v, 2) for v in result["setups_s"]],
                                  "rounds": result["rounds"],
                                  "op_s": [round(o["s"], 4) for o in ops],
                                  "jobs": [o["jobs"] for o in ops]}), flush=True)
    return {"correct": failed_ops(ops) == 0, "attempted": len(ops), "failed": failed_ops(ops),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def measure(spark, wl, ctx, seconds: float, WrongResult) -> dict:
    """Closed loop in whole rounds: the next op starts when the previous
    one returns, and a new round starts while fewer than `seconds` have
    passed (at least one round; three in a traced run, which traces every
    other round). Every round replays the same op inputs on a fresh clone
    of the set-up state, so a run's samples cover the same history depths
    on a fast host as on a slow one. The counts that must repeat for a
    seed (Spark jobs, stages and tasks per op, stored bytes per input
    byte) are taken over the first round."""
    tracer = ctx.tracer
    min_rounds = 1 if tracer is None else 3
    ops = []  # {"round", "depth", "s", "job_ids", "jobs", "rows", "traced", "ok"}
    fixed = {}
    t_start = time.perf_counter()
    rounds = 0
    while time.perf_counter() - t_start < seconds or rounds < min_rounds:
        traced = tracer is not None and rounds % 2 == 1
        wl.start_round()
        for depth, op in enumerate(wl.ops()):
            if tracer is not None:
                tracer.active = traced
            j0, t0 = next_job_id(spark), time.perf_counter()
            ok, rows = True, 0
            try:
                with ctx.span("op") if traced else nullcontext():
                    rows = op()
            except WrongResult as e:
                ok = False
                print(f"wrong result: {e}", file=sys.stderr)
            except Exception:
                ok = False
                traceback.print_exc()
            t1 = time.perf_counter()
            if tracer is not None:
                tracer.active = False
            j1 = next_job_id(spark)
            ops.append({"round": rounds, "depth": depth, "s": t1 - t0, "job_ids": range(j0, j1),
                        "jobs": j1 - j0, "rows": rows, "traced": traced, "ok": ok})
        if wl.end_round():
            # a wrong end state cannot be pinned on one op: the round's ops all fail
            for o in ops:
                if o["round"] == rounds:
                    o["ok"] = False
        if rounds == 0:
            fixed["jobs_per_op"] = sum(o["jobs"] for o in ops) / len(ops)
            fixed["stored_bytes_per_input_byte"] = wl.stored_bytes() / wl.input_bytes
        rounds += 1
    wall = time.perf_counter() - t_start
    first = [o for o in ops if o["round"] == 0]
    stages, tasks = stage_task_counts(spark, [j for o in first for j in o["job_ids"]])
    fixed["stages_per_op"] = stages / len(first)
    fixed["tasks_per_op"] = tasks / len(first)
    return {"ops": ops, "rounds": rounds, "wall": wall, **fixed}


def stage_task_counts(spark, job_ids: list[int]) -> tuple[int, int]:
    """Stages that ran (not skipped for reused shuffle output) and their
    tasks, over the given jobs, read from the status store once its
    listener has caught up."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    store = sc.statusStore()
    seen: set[int] = set()
    stages = tasks = 0
    for job_id in job_ids:
        for sid in [int(x) for x in str(store.job(job_id).stageIds().mkString(",")).split(",") if x]:
            if sid in seen:
                continue
            seen.add(sid)
            stage = store.lastStageAttempt(sid)
            if stage.numCompleteTasks() == 0:
                continue  # skipped: its shuffle output was reused
            stages += 1
            tasks += stage.numTasks()
    return stages, tasks


def latency(ops: list[dict]) -> dict[str, float]:
    """Wall-time figures of the timed ops. They follow the host's speed,
    which swings about 1.8x for minutes at a time on a shared host, so
    they are printed and traced but carry no regression bound."""
    times = [o["s"] for o in ops]
    busy = sum(times)
    return {"op_p50_s": statistics.median(times), "op_tail_s": round_tail(ops),
            "ops_per_s": len(ops) / busy, "input_rows_per_s": sum(o["rows"] for o in ops) / busy}


def end_to_end(r: dict) -> dict[str, tuple[float, str]]:
    ops = r["ops"]
    print(f"latency over {len(ops)} ops in {r['rounds']} rounds (op_tail_s: median over rounds of the "
          "round's slowest op) " + json.dumps(latency(ops)), flush=True)
    return {
        "setup_s": (r["setup_s"], "s"),
        "ok_frac": (1.0 - failed_ops(ops) / len(ops), "ratio"),
        "jobs_per_op": (r["jobs_per_op"], "count"),
        "stages_per_op": (r["stages_per_op"], "count"),
        "tasks_per_op": (r["tasks_per_op"], "count"),
        "stored_bytes_per_input_byte": (r["stored_bytes_per_input_byte"], "ratio"),
    }


def round_tail(ops: list[dict]) -> float:
    """Median over rounds of the round's slowest op."""
    slowest: dict[int, float] = {}
    for o in ops:
        slowest[o["round"]] = max(slowest.get(o["round"], 0.0), o["s"])
    return statistics.median(slowest.values())


def failed_ops(ops: list[dict]) -> int:
    return sum(1 for o in ops if not o["ok"])


def tracing_overhead(ops: list[dict]) -> float:
    """Median over the ops of traced rounds of traced time minus the mean
    time of the same-depth op in the neighbouring untraced rounds (latency
    rises with depth inside a round, so only same-depth ops compare). The
    first round still warms the op path up, so it is a neighbour only for
    a traced round that has no other."""
    by = {(o["round"], o["depth"]): o for o in ops}
    diffs = []
    for o in ops:
        if o["traced"]:
            keys = [(r, o["depth"]) for r in (o["round"] - 1, o["round"] + 1)]
            near = [by[k]["s"] for k in keys if k in by and k[0] > 0] or [by[k]["s"] for k in keys if k in by]
            diffs.append(o["s"] - sum(near) / len(near))
    return statistics.median(diffs) if diffs else 0.0


def per_layer(r: dict, tracer, args) -> dict[str, tuple[float, str]]:
    ops = r["ops"]
    traced = [o for o in ops if o["traced"]]
    n = max(len(traced), 1)
    values = dict.fromkeys(PER_LAYER, 0.0)
    for name, t in tracer.self_times().items():
        key = f"{name}_s"
        if key in values:
            values[key] = t / n
    for name, v in tracer.counts.items():
        values[name] = v / n
    spark_spans = tracer.spark_by_span()
    for agg in spark_spans.values():
        for k, v in agg.items():
            values[f"spark.{k}"] += v / n
    values.update(r.get("state", {}))
    stream = r.get("stream")
    if stream:
        # one micro-batch per op, in op order
        batches = [b for b, o in zip(stream, ops) if o["traced"] and b]
        for metric, key in _STREAM_KEYS.items():
            values[metric] = sum(b.get(key, 0) for b in batches) / 1000.0 / max(len(batches), 1)
    values["trace.overhead_s"] = tracing_overhead(ops)
    for k, v in latency([o for o in ops if not o["traced"]]).items():
        values[f"latency.{k}"] = v
    values["peak_rss_mb"] = r["peak_rss_mb"]
    out_dir = os.path.join(ROOT, ".lakebench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"trace_{args.workload}_s{args.seed}.json"), "w") as f:
        json.dump({"spans": tracer.spans, "self_s": tracer.self_times(), "spark": spark_spans,
                   "counts": dict(tracer.counts), "per_layer": values}, f)
    return {k: (v, unit_of(k)) for k, v in values.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    # Python workers import the engine too, and nothing may land outside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    print(json.dumps(run(args)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
