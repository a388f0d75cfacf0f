"""Readers for Spark's own status stores and for /proc.

``SparkStatus`` maps a job group to what Spark recorded for its jobs: the
core status store gives stages, tasks, shuffle and spill bytes, GC and run
time; the SQL status store (``sharedState().statusStore()``, populated even
with ``spark.ui.enabled=false``) gives the per-operator Python/Arrow metrics
and the final physical plan, from which shuffle Exchanges are counted.

``ProcTree`` reads CPU time and peak resident memory of the Spark JVM, its
Python workers and the driver process from /proc (psutil is not assumed).
"""

from __future__ import annotations

import os
import re

MB = float(1 << 20)

# SQL metric display names -> benchmark metric names
_SQL_METRICS = {
    "data sent to Python workers": "arrow.to_python_mb",
    "data returned from Python workers": "arrow.from_python_mb",
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_init_s",
    "time to initialize Python workers": "python.start_init_s",
}
_SIZE = {"B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024, "TiB": MB * MB}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_VALUE = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")
_EXCHANGE = re.compile(r"^[\s:|+-]*Exchange \(\d+\)", re.M)

#: every metric ``SparkStatus.group_stats`` returns
SPARK_KEYS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.exchanges",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
    "spark.max_task_s", "spark.task_skew", "spark.gc_s", "spark.exec_run_s",
    "arrow.to_python_mb", "arrow.from_python_mb", "python.run_s",
    "python.start_init_s",
)


def parse_sql_metric(text: str, metric_type: str) -> float:
    """Total of a formatted SQL metric value, in MiB for sizes and seconds
    for timings. Multi-task values read ``total (min, med, max ...)`` on
    the first line and the numbers on the last; the total comes first."""
    m = _VALUE.search(text.strip().splitlines()[-1])
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    if metric_type == "size":
        return value * _SIZE.get(unit, 1.0) / MB
    if metric_type in ("timing", "nsTiming"):
        return value * _TIME.get(unit, 1.0)
    return value


def count_exchanges(plan: str) -> int:
    """Shuffle Exchanges in the final plan (broadcasts are not shuffles)."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    else:
        plan = plan.split("\n\n", 1)[0]
    return len(_EXCHANGE.findall(plan))


class SparkStatus:
    """Job-group-attributed numbers from the in-process status stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._core = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = self.sc._jvm
        self._sql_seen = 0
        self._sql_by_job: dict[int, dict] = {}

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the jobs that already returned."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _scan_sql(self) -> None:
        """Index new SQL executions by their first job id."""
        batch = self._sql.executionsList(self._sql_seen, 1 << 20)
        for i in range(batch.size()):
            e = batch.apply(i)
            self._sql_seen += 1
            jobs = []
            it = e.jobs().keysIterator()
            while it.hasNext():
                jobs.append(int(it.next()))
            if not jobs:
                continue
            values = self._sql.executionMetrics(e.executionId())
            rec = {"spark.exchanges": count_exchanges(e.physicalPlanDescription())}
            ms = e.metrics()
            for j in range(ms.size()):
                m = ms.apply(j)
                key = _SQL_METRICS.get(m.name())
                v = values.get(m.accumulatorId())
                if key is None or not v.isDefined():
                    continue
                rec[key] = rec.get(key, 0.0) + parse_sql_metric(v.get(), m.metricType())
            self._sql_by_job[min(jobs)] = rec

    def group_stats(self, group: str) -> dict[str, float]:
        """Totals over the jobs of ``group``; call after ``drain``."""
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        jobs = self.job_ids(group)
        out["spark.jobs"] = float(len(jobs))
        if not jobs:
            return out
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        no_status = self._jvm.java.util.ArrayList()
        # task-duration quantiles (median, max) come with the stage summary,
        # one call per stage instead of one per task
        quantiles = self.sc._gateway.new_array(self._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        slowest = (-1.0, 0.0, 0.0)
        for sid in sorted(stage_ids):
            attempts = self._core.stageData(sid, False, no_status, True, quantiles)
            for a in range(attempts.size()):
                sd = attempts.apply(a)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["spark.stages"] += 1
                out["spark.tasks"] += sd.numTasks()
                out["spark.shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spark.shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["spark.spill_mb"] += sd.diskBytesSpilled() / MB
                out["spark.gc_s"] += sd.jvmGcTime() / 1e3
                run_s = sd.executorRunTime() / 1e3
                out["spark.exec_run_s"] += run_s
                dist = sd.taskMetricsDistributions()
                if not dist.isDefined():
                    continue
                med, top = (dist.get().duration().apply(i) / 1e3 for i in (0, 1))
                out["spark.max_task_s"] = max(out["spark.max_task_s"], top)
                if run_s > slowest[0]:
                    slowest = (run_s, med, top)
        if slowest[0] >= 0:
            out["spark.task_skew"] = slowest[2] / max(slowest[1], 1e-3)
        self._scan_sql()
        for j in jobs:
            for k, v in self._sql_by_job.pop(j, {}).items():
                out[k] += v
        return out


def host_cpu_s() -> dict[str, float]:
    """Machine-wide CPU seconds by state from /proc/stat: what the rest of
    the host (``steal``: other guests; ``iowait``) took from the run."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    tick = os.sysconf("SC_CLK_TCK")
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: int(v) / tick for n, v in zip(names, fields)}


class ProcTree:
    """CPU seconds and peak RSS of a process tree rooted at the Spark JVM,
    plus the driver process itself."""

    def __init__(self, jvm_pid: int, driver_pid: int | None = None):
        self.jvm_pid = jvm_pid
        self.driver_pid = driver_pid or os.getpid()
        self._tick = os.sysconf("SC_CLK_TCK")

    @staticmethod
    def _stat(pid: int) -> list[str] | None:
        try:
            with open(f"/proc/{pid}/stat") as f:
                raw = f.read()
        except OSError:
            return None
        # comm may hold spaces: fields resume after the last ')'
        return raw[raw.rindex(")") + 2:].split()

    def tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = self._stat(int(name))
                if st is not None:
                    children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], [self.jvm_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def cpu_s(self) -> float:
        """utime + stime of the JVM tree, including reaped children."""
        total = 0
        for pid in self.tree():
            st = self._stat(pid)
            if st is not None:
                total += sum(int(v) for v in st[11:15])
        return total / self._tick

    @staticmethod
    def _hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def peak_rss_parts(self) -> dict[str, float]:
        """Peak RSS in MB of the driver, of the JVM, and summed over the
        Python workers alive now (with their count)."""
        workers = [p for p in self.tree() if p != self.jvm_pid]
        return {
            "driver_mb": self._hwm_kb(self.driver_pid) / 1024.0,
            "jvm_mb": self._hwm_kb(self.jvm_pid) / 1024.0,
            "workers_mb": sum(self._hwm_kb(p) for p in workers) / 1024.0,
            "workers": float(len(workers)),
        }
