"""Per-layer counters read from outside the engine.

Nothing here touches the engine's code: jobs, stages and tasks come from the
Spark status store, SQL operator metrics from the SQL status store, GC and
heap from the Spark JVM's management beans.  An op's jobs are attributed by
job-id range: the DAG scheduler numbers jobs sequentially, so the jobs an op
fired are exactly the ids handed out between its start and its end, whichever
thread submitted them (job groups miss jobs submitted from pool threads, and
the status store's job list is capped by retention, so its size is not a
counter).
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError

#: Arrow/Python boundary operators (``mapInPandas``, ``applyInPandas``, ...).
PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
    "PythonMapInArrow", "AggregateInPandas", "WindowInPandas",
)

STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "shuffleWriteBytes",
    "shuffleWriteRecords", "shuffleReadBytes", "shuffleReadRecords",
    "memoryBytesSpilled", "diskBytesSpilled",
)

ZERO = {
    "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
    "gc_s": 0.0, "shuffle_write_bytes": 0, "shuffle_write_records": 0,
    "shuffle_read_bytes": 0, "shuffle_read_records": 0, "spill_bytes": 0,
    "scans": 0, "scan_rows": 0, "scan_bytes": 0,
    "files_read": 0, "python_rows": 0, "python_bytes": 0,
}

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_value(text: str) -> float:
    """Parse a SQL-metric display value: ``1,234``, ``12.3 MiB`` or, for
    per-task metrics, ``12.3 MiB (min, med, max ...)`` (the total)."""
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


_NODE = re.compile(r'label="(?:<br>)?<b>([^<]*)</b><br><br>(.*?)" tooltip=')


def plan_nodes(dot: str) -> list[tuple[str, dict[str, float]]]:
    """(operator name, {metric: value}) per node of a SQL plan graph in the
    DOT form the status store renders, metrics filled in."""
    nodes = []
    for name, body in _NODE.findall(dot):
        items = body.split("<br>")
        metrics: dict[str, float] = {}
        i = 0
        while i < len(items):
            item = items[i]
            if " total (min, med, max" in item and i + 1 < len(items):
                metrics[item.split(" total (")[0]] = _metric_value(items[i + 1])
                i += 2
                continue
            if ": " in item:
                key, val = item.split(": ", 1)
                metrics[key] = _metric_value(val)
            i += 1
        nodes.append((name.strip(), metrics))
    return nodes


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def add(into: dict, c: dict) -> dict:
    for k, v in c.items():
        into[k] = into.get(k, 0) + v
    return into


class SparkCounters:
    """Marks an op's start and reads what the engine did since the mark."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        jvm = spark.sparkContext._jvm
        self._mf = jvm.java.lang.management.ManagementFactory

    # -- marks -------------------------------------------------------------
    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())  # py4j unboxes the AtomicInteger

    def _last_execution_id(self) -> int:
        n = int(self._sql.executionsCount())
        if n == 0:
            return -1
        return int(_seq(self._sql.executionsList(n - 1, 1))[0].executionId())

    def mark(self) -> tuple[int, int]:
        self._bus.waitUntilEmpty()
        return self.next_job_id(), self._last_execution_id()

    # -- reads -------------------------------------------------------------
    def since(self, mark: tuple[int, int]) -> dict:
        """Counters of every job and SQL execution started after ``mark``."""
        j0, e0 = mark
        self._bus.waitUntilEmpty()
        j1 = self.next_job_id()
        out = dict(ZERO)
        out["jobs"] = j1 - j0
        stage_ids: set[int] = set()
        for jid in range(j0, j1):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted by retention; count the job only
                continue
            stage_ids.update(int(s) for s in _seq(job.stageIds()))
        for sid in sorted(stage_ids):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted by retention
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += int(st.numCompleteTasks()) + int(st.numFailedTasks())
            v = {f: int(getattr(st, f)()) for f in STAGE_FIELDS}
            out["task_run_s"] += v["executorRunTime"] / 1e3
            out["task_cpu_s"] += v["executorCpuTime"] / 1e9
            out["gc_s"] += v["jvmGcTime"] / 1e3
            out["shuffle_write_bytes"] += v["shuffleWriteBytes"]
            out["shuffle_write_records"] += v["shuffleWriteRecords"]
            out["shuffle_read_bytes"] += v["shuffleReadBytes"]
            out["shuffle_read_records"] += v["shuffleReadRecords"]
            out["spill_bytes"] += v["memoryBytesSpilled"] + v["diskBytesSpilled"]
        self._sql_since(e0, out)
        return out

    def jobs_since(self, mark: tuple[int, int]) -> list[tuple[int, float, float, int]]:
        """(job id, submitted, completed, stage count) per job since
        ``mark``; times in epoch seconds.  Call after ``since``."""
        out = []
        for jid in range(mark[0], self.next_job_id()):
            try:
                job = self._store.job(jid)
            except Py4JJavaError:
                continue
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isEmpty() or done.isEmpty():
                continue
            out.append((jid, sub.get().getTime() / 1e3, done.get().getTime() / 1e3,
                        int(job.stageIds().size())))
        return out

    def _sql_since(self, e0: int, out: dict) -> None:
        n = int(self._sql.executionsCount())
        recent = _seq(self._sql.executionsList(max(0, n - 256), min(n, 256)))
        for ex in recent:
            eid = int(ex.executionId())
            if eid <= e0:
                continue
            dot = self._sql.planGraph(eid).makeDotFile(self._sql.executionMetrics(eid))
            for name, metrics in plan_nodes(dot):
                if name.startswith("Scan "):
                    out["scans"] += 1
                    out["scan_rows"] += int(metrics.get("number of output rows", 0))
                    out["scan_bytes"] += int(metrics.get("size of files read", 0))
                    out["files_read"] += int(metrics.get("number of files read", 0))
                elif name.startswith(PYTHON_NODES):
                    out["python_rows"] += int(metrics.get("number of output rows", 0))
                    out["python_bytes"] += int(
                        metrics.get("data sent to Python workers", 0)
                        + metrics.get("data returned from Python workers", 0))

    # -- Spark JVM ---------------------------------------------------------
    def jvm_gc_s(self) -> float:
        beans = self._mf.getGarbageCollectorMXBeans()
        return sum(max(0, int(beans.get(i).getCollectionTime()))
                   for i in range(beans.size())) / 1e3

    def reset_heap_peak(self) -> None:
        pools = self._mf.getMemoryPoolMXBeans()
        for i in range(pools.size()):
            pools.get(i).resetPeakUsage()

    def heap_peak_mb(self) -> float:
        pools = self._mf.getMemoryPoolMXBeans()
        total = 0
        for i in range(pools.size()):
            p = pools.get(i)
            if p.getType().name() == "HEAP":
                total += int(p.getPeakUsage().getUsed())
        return total / 2**20
