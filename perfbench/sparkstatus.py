"""Per-layer counters read from Spark's in-process status stores.

The benchmark tags every job it causes with a Spark job group named
``<pass>|<query>|<layer>`` (``sc.setJobGroup`` before each call into a
layer). After a pass, :func:`collect` reads back, per group:

* the jobs, stages and task metrics of the application status store
  (``SparkContext.statusStore``), and
* the SQL metrics of every SQL execution whose jobs belong to the group
  (``SharedState.statusStore``), from which the Arrow/pandas UDF nodes'
  "time to run/start/initialize Python workers" and "data sent
  to/returned from Python workers" are summed.

Both stores are kept with ``spark.ui.enabled=false``. Nothing here runs
inside ``etl_verkada_spark``; the package is only observed from outside.
"""

from __future__ import annotations

import re
from collections import defaultdict

#: SQL metric name -> counter name (Spark's PythonSQLMetrics).
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "data sent to Python workers": "python_sent_mb",
    "data returned from Python workers": "python_recv_mb",
}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")
MB = 2**20


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric, in seconds or MiB.

    Spark prints a single task's value as ``"1.7 s"`` and several tasks'
    as ``"total (min, med, max ...)\\n1.7 s (...)"``; the total is the
    first value after the header line.
    """
    body = text.rsplit("\n", 1)[-1]
    m = _VALUE.search(body)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit] / MB
    return value


class StatusReader:
    """Reads the status stores of one live SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._sql_seen = 0

    def drain(self) -> None:
        """Wait until every listener event so far reached the stores."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def _stage_attempts(self, stage_id: int):
        seq = self._store.stageData(
            stage_id, False, self._no_status, False, self._no_quantiles
        )
        return self._conv.asJava(seq)

    def collect(self, groups: list[str]) -> dict[str, dict[str, float]]:
        """Counters per job group, for the groups named."""
        self.drain()
        tracker = self.sc.statusTracker()
        out: dict[str, dict[str, float]] = {}
        job_group: dict[int, str] = {}
        for group in groups:
            c: dict[str, float] = defaultdict(float)
            for job_id in tracker.getJobIdsForGroup(group):
                job_group[job_id] = group
                c["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    for sd in self._stage_attempts(stage_id):
                        if sd.status().toString() == "SKIPPED":
                            continue
                        c["stages"] += 1
                        c["tasks"] += sd.numCompleteTasks()
                        c["executor_run_s"] += sd.executorRunTime() / 1e3
                        c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                        c["gc_s"] += sd.jvmGcTime() / 1e3
                        c["scan_rows"] += sd.inputRecords()
                        c["scan_mb"] += sd.inputBytes() / MB
                        c["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                        c["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                        c["spill_mb"] += (
                            sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                        ) / MB
            out[group] = c
        self._collect_sql(job_group, out)
        return out

    def _collect_sql(self, job_group: dict[int, str], out) -> None:
        count = int(self._sql.executionsCount())
        if count <= self._sql_seen:
            return
        executions = self._conv.asJava(
            self._sql.executionsList(self._sql_seen, count - self._sql_seen)
        )
        self._sql_seen = count
        for ui in executions:
            groups = {
                job_group[j]
                for j in self._conv.asJava(ui.jobs()).keySet()
                if j in job_group
            }
            if len(groups) != 1:
                continue
            c = out[groups.pop()]
            values = self._conv.asJava(self._sql.executionMetrics(ui.executionId()))
            for m in self._conv.asJava(ui.metrics()):
                key = PYTHON_SQL_METRICS.get(m.name())
                text = values.get(m.accumulatorId()) if key else None
                if text:
                    c[key] += parse_metric(text)

    def checkpoint_state(self) -> tuple[int, float]:
        """(persisted RDDs, MiB they hold in memory and on disk)."""
        jsc = self.sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        held = sum(i.memSize() + i.diskSize() for i in infos)
        return int(jsc.getPersistentRDDs().size()), held / MB
