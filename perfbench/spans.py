"""Spans around the engine's public functions, recorded from outside it.

``Tracer.wrap`` swaps a module function (or a class method) for a wrapper
that opens a span around each call; every module that imported the
function by name gets the wrapper too, so calls from inside the engine are
seen. Spans live in memory (name, start, end, parent, job-id range) and
are written to a JSON file when the run ends.

Spark jobs started during a span are the DAG scheduler's job-id range
across it; their stages and tasks come from ``SparkContext.statusTracker``
once the job has finished (a stage that ran no task was skipped).
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager

PACKAGE = "ntd_gtfs_to_socrata_spark"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._job_cost: dict[int, tuple[int, int]] = {}

    # -- job accounting ---------------------------------------------------
    def next_job_id(self) -> int:
        """Id the next Spark job will get; jobs are numbered in order of
        submission, so ``[a, b)`` between two readings is every job started
        in between (in any thread)."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def job_cost(self, j0: int, j1: int) -> tuple[int, int, int]:
        """(jobs, stages run, tasks run) for job ids ``[j0, j1)``."""
        st = self.spark.sparkContext.statusTracker()
        stages = tasks = 0
        for jid in range(j0, j1):
            if jid not in self._job_cost:
                info = st.getJobInfo(jid)
                s = t = 0
                for sid in info.stageIds if info else ():
                    si = st.getStageInfo(sid)
                    ran = si.numCompletedTasks + si.numFailedTasks if si else 0
                    if ran:
                        s, t = s + 1, t + ran
                self._job_cost[jid] = (s, t)
            s, t = self._job_cost[jid]
            stages, tasks = stages + s, tasks + t
        return j1 - j0, stages, tasks

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "j0": self.next_job_id()}
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["j1"] = self.next_job_id()
            self._open.pop()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Trace every call of ``owner.attr`` as span ``name``. ``after``
        (optional) gets the call's result once the span has closed, for
        probes that time the returned frames."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        targets = [owner]
        if not isinstance(owner, type):
            targets += [m for k, m in list(sys.modules.items())
                        if k.startswith(PACKAGE) and m is not owner
                        and getattr(m, attr, None) is orig]
        for t in targets:
            self._patched.append((t, attr, orig))
            setattr(t, attr, wrapper)

    def restore(self) -> None:
        while self._patched:
            t, attr, orig = self._patched.pop()
            setattr(t, attr, orig)

    # -- summaries --------------------------------------------------------
    def summarize(self, first: int) -> dict[str, dict]:
        """Per span name, summed over ``spans[first:]``: seconds, self
        seconds (duration minus the time its child spans cover), jobs,
        stages and tasks."""
        out: dict[str, dict] = {}
        child_s = [0.0] * len(self.spans)
        for i in range(first, len(self.spans)):
            p = self.spans[i]["parent"]
            if p is not None and p >= first:
                child_s[p] += self.spans[i]["end"] - self.spans[i]["start"]
        for i in range(first, len(self.spans)):
            sp = self.spans[i]
            dur = sp["end"] - sp["start"]
            jobs, stages, tasks = self.job_cost(sp["j0"], sp["j1"])
            sp["self_s"] = dur - child_s[i]
            agg = out.setdefault(sp["name"], dict.fromkeys(
                ("s", "self_s", "jobs", "stages", "tasks"), 0))
            agg["s"] += dur
            agg["self_s"] += dur - child_s[i]
            agg["jobs"] += jobs
            agg["stages"] += stages
            agg["tasks"] += tasks
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def last_execution_id(spark) -> int:
    """Id of the newest SQL execution in the SQL status store (-1 if none).
    Spark keeps that store with the UI disabled."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def sql_node_rows(spark, after_id: int, node_marker: str, skip_description: str) -> int:
    """Sum of the ``number of output rows`` metric of every plan node whose
    description contains ``node_marker``, over the SQL executions newer
    than ``after_id`` whose description is not ``skip_description``."""
    store = spark._jsparkSession.sharedState().statusStore()
    rows, n = 0, store.executionsCount()
    for i in range(n - 1, -1, -1):
        e = store.executionsList(i, 1).apply(0)
        eid = e.executionId()
        if eid <= after_id:
            break
        if e.description() == skip_description:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if node_marker not in node.desc():
                continue
            metrics = node.metrics()
            for m in range(metrics.size()):
                metric = metrics.apply(m)
                if metric.name() == "number of output rows":
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        rows += int(v.get().replace(",", ""))
    return rows
