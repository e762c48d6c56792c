"""Engine-side measurements, read from outside the program.

- SQL metrics of every query execution (Python worker time, bytes sent to
  and returned from Python workers) and its final physical plan shape,
  from Spark's SQL status store;
- stage data (task run time, GC time, shuffle bytes written) of every job
  in a job group, from the application status store;
- peak resident memory of the JVM and its Python worker processes, from
  /proc.
"""

from __future__ import annotations

import os
import re

_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
         "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
         "TiB": 1024.0 ** 4}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

# physical-plan node names counted per execution
PLAN_NODES = {
    "python_stages": ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                      "BatchEvalPython"),
    "exchanges": ("Exchange", "BroadcastExchange"),
    "smj": ("SortMergeJoin",),
    "checkpoint_scans": ("Scan ExistingRDD",),
}
# SQL metrics summed over the Python stages (name -> metric label)
PYTHON_METRICS = {
    "python_run_s": "time to run Python workers",
    "bytes_to_python": "data sent to Python workers",
    "bytes_from_python": "data returned from Python workers",
}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ('10,000', '1.2 s', '805.1 KiB', or the
    'total (min, med, max ...)' two-line form) as seconds, bytes or a
    count."""
    m = _VALUE.match(text.splitlines()[-1])
    if m is None:
        raise ValueError(f"unparsable SQL metric value: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


class StatusProbe:
    """Attributes executions and stages to one closed-loop step.

    Usage: mark = probe.mark(group); <run the step under job group
    `group`>; probe.since(mark, group).  Only the executions and the jobs
    that started after the mark count, so a group's earlier runs (the
    checked warm-up run, earlier iterations) are left out."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = self.sc.statusStore()
        self.tracker = spark.sparkContext.statusTracker()

    def mark(self, group: str) -> tuple[int, frozenset[int]]:
        self.sc.listenerBus().waitUntilEmpty()
        return (self.sql.executionsList().size(),
                frozenset(self.tracker.getJobIdsForGroup(group)))

    def since(self, mark: tuple[int, frozenset[int]], group: str) -> dict:
        self.sc.listenerBus().waitUntilEmpty()
        first_exec, old_jobs = mark
        out = {k: 0.0 for k in (*PLAN_NODES, *PYTHON_METRICS)}
        execs = self.sql.executionsList()
        for i in range(first_exec, execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                for key, names in PLAN_NODES.items():
                    if name in names:
                        out[key] += 1
                if name not in PLAN_NODES["python_stages"]:
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    metric = metrics.apply(k)
                    for key, label in PYTHON_METRICS.items():
                        if metric.name() == label:
                            v = values.get(metric.accumulatorId())
                            if v.isDefined():
                                out[key] += parse_metric(v.get())
        # a stage a later job of the step skips (its shuffle output is
        # reused) is listed by both jobs: count each stage once
        stages: set[int] = set()
        for job in self.tracker.getJobIdsForGroup(group):
            if job in old_jobs:
                continue
            info = self.tracker.getJobInfo(job)
            stages.update(info.stageIds if info else ())
        run_ms = gc_ms = shuffle_b = 0
        for sid in stages:
            st = self.app.lastStageAttempt(sid)
            run_ms += st.executorRunTime()
            gc_ms += st.jvmGcTime()
            shuffle_b += st.shuffleWriteBytes()
        out["task_run_s"] = run_ms / 1e3
        out["gc_s"] = gc_ms / 1e3
        out["shuffle_write_mb"] = shuffle_b / 1e6
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:  # the process ended: it no longer holds memory
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Sum of the peak RSS (VmHWM) of the JVM and every process under it:
    the Python worker daemon and its forked workers."""
    kids = _children()
    todo, total_kb = [jvm_pid], 0
    while todo:
        pid = todo.pop()
        total_kb += _hwm_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total_kb / 1024.0
