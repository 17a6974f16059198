"""Spark's own instruments, read at the benchmark's layer boundaries.

Used by the traced run only:
- ``StatusTracker`` job ids per job group (one group per call);
- the status store's stage data (run time, input/output/shuffle bytes,
  task durations);
- SQL metrics of the executed plan;
- a count of py4j call commands the driver sends to the JVM.
"""

from __future__ import annotations

import statistics
from contextlib import contextmanager

_CALL = "c"  # py4j protocol: a method call (not GC detach "m", reflection "r", ...)


class Py4jCounter:
    """Counts py4j call commands sent by this process's gateway client."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self._orig = self.client.send_command

        def send_command(command, *args, **kwargs):
            if command.startswith(_CALL):
                self.calls += 1
            return self._orig(command, *args, **kwargs)

        self.client.send_command = send_command

    def close(self) -> None:
        self.client.send_command = self._orig


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self._n = 0

    @contextmanager
    def group(self, name: str):
        """Run the block under a fresh job group; yields the group id."""
        self._n += 1
        gid = f"pb{self._n}-{name}"
        self.sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def group_stats(self, gid: str) -> dict:
        """Jobs, executed stages and tasks of one job group, with the
        status store's per-stage sums."""
        # the status store is fed asynchronously by the listener bus: wait
        # for the group's last task-end events, or a read can miss them
        self.bus.waitUntilEmpty(60_000)
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_ms", "job_wall_ms",
             "input_bytes", "output_bytes", "shuffle_write_bytes",
             "shuffle_read_bytes"), 0)
        stage_ids = []
        for jid in self.status.getJobIdsForGroup(gid):
            out["jobs"] += 1
            job = self.store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                out["job_wall_ms"] += (job.completionTime().get().getTime()
                                       - job.submissionTime().get().getTime())
            stage_ids.extend(int(s) for s in self.status.getJobInfo(jid).stageIds)
        heaviest = None
        for sid in sorted(set(stage_ids)):
            sd = self.store.lastStageAttempt(sid)
            done = int(sd.numCompleteTasks())
            if not done:  # skipped: its output was reused
                continue
            out["stages"] += 1
            out["tasks"] += done
            run = int(sd.executorRunTime())
            out["executor_run_ms"] += run
            out["input_bytes"] += int(sd.inputBytes())
            out["output_bytes"] += int(sd.outputBytes())
            out["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
            out["shuffle_read_bytes"] += int(sd.shuffleReadBytes())
            if heaviest is None or run > heaviest[1]:
                heaviest = (sid, run, int(sd.attemptId()))
        out["heaviest_stage"] = heaviest
        return out

    def task_skew(self, stage: tuple | None) -> float:
        """max / median task duration of one stage (1.0 when unknown)."""
        if stage is None:
            return 1.0
        sid, _run, attempt = stage
        tasks = self.store.taskList(sid, attempt, 100000)
        durs = []
        for i in range(tasks.size()):
            d = tasks.apply(i).duration()
            if d.isDefined():
                durs.append(int(d.get()))
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 1.0


_STAGE_NODES = ("ResultQueryStage", "ShuffleQueryStage", "BroadcastQueryStage",
                "TableCacheQueryStage")


def _unwrap(node):
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return node.executedPlan()
    if name in _STAGE_NODES:
        return node.plan()
    return node


def _children(node):
    ch = _unwrap(node).children()
    return [_unwrap(ch.apply(i)) for i in range(ch.size())]


def _metric(node, name: str) -> int | None:
    ms = node.metrics()
    return int(ms.apply(name).value()) if ms.contains(name) else None


def _rows_in(node) -> int:
    """Rows entering ``node``: per child, the nearest descendant that
    counts its output rows (Sort, Exchange readers and codegen wrappers
    do not)."""
    total = 0
    for c in _children(node):
        n = _metric(c, "numOutputRows")
        total += n if n is not None else _rows_in(c)
    return total


def python_io(df) -> dict:
    """Rows and bytes the executed plan's FlatMapGroupsInPandas nodes
    exchanged with Python, from their SQL metrics. Call after the
    DataFrame's action has run."""
    out = {"rows_to_python": 0, "bytes_to_python": 0}
    todo = [_unwrap(df._jdf.queryExecution().executedPlan())]
    while todo:
        node = todo.pop()
        if node.nodeName().startswith("FlatMapGroupsInPandas"):
            out["rows_to_python"] += _rows_in(node)
            out["bytes_to_python"] += _metric(node, "pythonDataSent") or 0
        todo.extend(_children(node))
    return out
