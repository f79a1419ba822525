"""In-memory span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own process around calls into
each layer's public functions: `Tracer.wrap` replaces a function or
method with one that opens a span while tracing is on and calls straight
through while it is off. Each span also sets the Spark job group to its
own id, so every Spark job is attributed to the innermost span that was
open on the launching thread (job groups are thread-local; the drain's
`foreachBatch` function opens its own span for that reason).

After the run, `spark_by_span` reads jobs and stages from Spark's status
store, which the listener fills whether or not the UI is enabled.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

JOB_GROUP_PREFIX = "lakebench-span-"
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield None
            return
        stack = self._stack()
        sp = {"id": next(self._ids), "name": name,
              "parent": stack[-1]["id"] if stack else None, "start": time.perf_counter()}
        sc = self.spark.sparkContext
        if not stack:
            # a streaming thread carries the query's own job group: put it back
            self._local.saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
        stack.append(sp)
        sc.setJobGroup(f"{JOB_GROUP_PREFIX}{sp['id']}", name)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(sp)
            if stack:
                sc.setJobGroup(f"{JOB_GROUP_PREFIX}{stack[-1]['id']}", stack[-1]["name"])
            else:
                for k, v in self._local.saved.items():
                    sc.setLocalProperty(k, v)

    def count(self, name: str, value: float) -> None:
        if self.active:
            self.counts[name] += value

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Trace every call of `owner.attr` as span `name`; `on_result`
        records counts from the return value, outside the span's timed
        interval."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if on_result is not None:
                on_result(result)
            return result

        setattr(owner, attr, traced)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover (children of one span never overlap: calls are synchronous)."""
        child = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None:
                child[sp["parent"]] += sp["end"] - sp["start"]
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp["name"]] += sp["end"] - sp["start"] - child[sp["id"]]
        return dict(out)

    def spark_by_span(self) -> dict[str, dict[str, float]]:
        """Jobs, stages, tasks, executor run time and bytes per span name,
        from the status store, for jobs launched under a span's group."""
        names = {sp["id"]: sp["name"] for sp in self.spans}
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        seen_stages: set[int] = set()
        for i in range(jobs.length()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or not str(group.get()).startswith(JOB_GROUP_PREFIX):
                continue
            name = names.get(int(str(group.get())[len(JOB_GROUP_PREFIX):]))
            if name is None:
                continue
            agg = out[name]
            agg["jobs"] += 1
            ids = [int(s) for s in str(job.stageIds().mkString(",")).split(",") if s]
            for sid in ids:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                stage = store.lastStageAttempt(sid)
                if stage.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                agg["stages"] += 1
                agg["tasks"] += stage.numTasks()
                agg["executor_run_s"] += stage.executorRunTime() / 1000.0
                agg["shuffle_write_bytes"] += stage.shuffleWriteBytes()
                agg["input_bytes"] += stage.inputBytes()
        return {k: dict(v) for k, v in out.items()}
