"""Measurements taken from outside the program: Spark's in-process status
stores, read per job group, and the driver's process tree in ``/proc``.

The status stores are the ones the web UI renders; they are kept even
with ``spark.ui.enabled=false``. A call's jobs are found by the job group
set around it, and its stages and SQL executions are read right after
the call returns, before the stores' retention limits can evict them.
"""

from __future__ import annotations

import os
import signal
import time
import uuid

# SQL metric names of the Python/Arrow plan nodes (MapInPandas,
# ArrowEvalPython) -> benchmark metric. "time to initialize Python
# workers" is left out: a reused daemon worker reports it from its own
# fork, so it grows with the worker's age, not with the call's work.
PYTHON_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "arrow_sent_bytes",
    "data returned from Python workers": "arrow_returned_bytes",
}
_SCALE = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-6, "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6,
}


def parse_sql_metric(text: str) -> float:
    """Value of a SQL-store metric string such as ``'3,000'``,
    ``'344 ms'`` or ``'total (min, med, max ...)\\n1.6 s (...)'``, in
    bytes for sizes and milliseconds for times."""
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    value = float(head[0].replace(",", ""))
    return value * _SCALE[head[1]] if len(head) > 1 else value


class StatusStores:
    """Per-call engine metrics from the job/stage/task and SQL stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._median_max = gw.new_array(gw.jvm.double, 2)
        self._median_max[0], self._median_max[1] = 0.5, 1.0
        self._sql_mark = 0
        self.spent_s = 0.0  # time spent here, outside the calls

    def begin(self, name: str) -> str:
        t0 = time.perf_counter()
        group = f"linkbench-{name}-{uuid.uuid4().hex[:8]}"
        self.bus.waitUntilEmpty(60_000)
        self._sql_mark = int(self.sql.executionsCount())
        self.sc.setJobGroup(group, name)
        self.spent_s += time.perf_counter() - t0
        return group

    def end(self, group: str, wall_s: float, python: bool = False) -> dict[str, float]:
        t0 = time.perf_counter()
        m = self._read(group, wall_s, python)
        self.spent_s += time.perf_counter() - t0
        return m

    def _read(self, group: str, wall_s: float, python: bool) -> dict[str, float]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.bus.waitUntilEmpty(60_000)
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        m = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0.0)
        m["jobs"] = float(len(job_ids))
        m["task_skew"] = 1.0
        intervals, stage_ids = [], set()
        for jid in job_ids:
            job = self.store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime(),
                                  job.completionTime().get().getTime()))
            stage_ids.update(int(s) for s in str(job.stageIds().mkString(",")).split(",") if s)
        for sid in stage_ids:
            attempts = self.store.stageData(sid, False, self._no_status, False, self._no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                m["stages"] += 1
                m["tasks"] += st.numCompleteTasks()
                m["executor_run_ms"] += st.executorRunTime()
                m["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                m["gc_ms"] += st.jvmGcTime()
                m["shuffle_read_bytes"] += st.shuffleReadBytes()
                m["shuffle_write_bytes"] += st.shuffleWriteBytes()
                m["spill_bytes"] += st.diskBytesSpilled()
                summary = self.store.taskSummary(sid, st.attemptId(), self._median_max)
                if summary.isDefined():
                    dur = summary.get().duration()
                    m["task_skew"] = max(m["task_skew"], dur.apply(1) / max(dur.apply(0), 1.0))
        m["busy_ms"] = float(_union_ms(intervals))
        m["driver_gap_ms"] = wall_s * 1e3 - m["busy_ms"]
        if python:
            m.update(self._python_nodes(job_ids))
        return m

    def _python_nodes(self, job_ids: set[int]) -> dict[str, float]:
        """Python/Arrow boundary metrics summed over the call's SQL executions."""
        out = dict.fromkeys(set(PYTHON_METRICS.values()) | {"links_raw"}, 0.0)
        new = int(self.sql.executionsCount()) - self._sql_mark
        execs = self.sql.executionsList(self._sql_mark, max(new, 0))
        for i in range(execs.size()):
            ex = execs.apply(i)
            ids = {int(j) for j in str(ex.jobs().keys().mkString(",")).split(",") if j}
            if not ids & job_ids:
                continue
            values = self.sql.executionMetrics(ex.executionId())
            nodes = self.sql.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                name = node.name()
                if name not in ("MapInPandas", "ArrowEvalPython"):
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    pm = metrics.apply(k)
                    v = values.get(pm.accumulatorId())
                    if not v.isDefined():
                        continue
                    if pm.name() in PYTHON_METRICS:
                        out[PYTHON_METRICS[pm.name()]] += parse_sql_metric(v.get())
                    elif name == "MapInPandas" and pm.name() == "number of output rows":
                        out["links_raw"] += parse_sql_metric(v.get())
        return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, from the ppid field of /proc/*/stat."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_hwm_mb(root: int) -> float:
    """Sum of VmHWM (each process's peak resident set) over the tree, MiB."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def wait_gone(pids: list[int], timeout_s: float = 60.0) -> None:
    """Wait for each pid to exit; kill whatever is left at the deadline."""
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while _alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False
