"""Per-layer counters read from outside the program, through Spark's public
status APIs: the core status store (jobs and stages), the SQL status store
(per-operator metrics) and the JVM codegen metrics source.

All of these work with ``spark.ui.enabled=false``. The stores keep the last
``spark.ui.retainedJobs``/``retainedStages`` entries (1000 by default), so the
benchmark reads them after every pass instead of once at the end.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

_UNITS = {
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "min": 60.0,
    "h": 3600.0,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
#: Plan nodes whose metrics the benchmark reports: scans, write commands and
#: Python runners. Skipping the rest keeps a read to a few hundred py4j calls
#: per pass instead of thousands.
_REPORTED_NODES = re.compile(r"^(Scan|Execute) |Python|Pandas|Arrow")


def parse_sql_metric(text: str) -> float:
    """A SQL metric as the store formats it, in bytes, seconds or a count.

    Single-task metrics read ``'1,234'``, ``'12.3 MiB'`` or ``'9 ms'``;
    multi-task ones read ``'total (min, med, max ...)\\n8.1 s (2.0 s, ...)'``,
    where the total is the first value of the second line. Sizes come back
    rounded to one decimal of their unit.
    """
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _ms(option) -> int | None:
    """A ``scala.Option[java.util.Date]`` as epoch milliseconds."""
    return option.get().getTime() if option.isDefined() else None


@dataclass
class Stage:
    stage_id: int
    start_ms: int | None
    end_ms: int | None
    tasks: int
    failed_tasks: int
    run_s: float
    cpu_s: float
    input_bytes: int
    output_bytes: int
    output_rows: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int


@dataclass
class Job:
    job_id: int
    group: str
    start_ms: int | None
    end_ms: int | None
    stages: list[Stage] = field(default_factory=list)


@dataclass
class Execution:
    """One SQL execution: its operator metrics summed by (operator name
    prefix, metric name)."""

    execution_id: int
    metrics: dict[tuple[str, str], float]


class StatusReader:
    """Reads jobs, stages and SQL executions newer than the last read."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        self._conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_job = -1
        self._last_execution = -1

    def skip(self) -> None:
        """Mark every job and execution so far as read, without reading them."""
        jobs = self._list(self._store.jobsList(None))
        self._last_job = max((j.jobId() for j in jobs), default=-1)
        execs = self._list(self._sql.executionsList())
        self._last_execution = max((e.executionId() for e in execs), default=-1)

    def _list(self, seq) -> list:
        return list(self._conv.asJava(seq))

    def new_jobs(self) -> list[Job]:
        """Completed jobs submitted since the previous call, oldest first."""
        jobs = []
        for j in self._list(self._store.jobsList(None)):
            if j.jobId() <= self._last_job:
                continue
            group = j.jobGroup()
            job = Job(
                j.jobId(),
                group.get() if group.isDefined() else "",
                _ms(j.submissionTime()),
                _ms(j.completionTime()),
            )
            for sid in self._list(j.stageIds()):
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                job.stages.append(
                    Stage(
                        sid,
                        _ms(st.submissionTime()),
                        _ms(st.completionTime()),
                        st.numTasks(),
                        st.numFailedTasks(),
                        st.executorRunTime() / 1e3,
                        st.executorCpuTime() / 1e9,
                        st.inputBytes(),
                        st.outputBytes(),
                        st.outputRecords(),
                        st.shuffleWriteBytes(),
                        st.shuffleReadBytes(),
                        st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    )
                )
            jobs.append(job)
        if jobs:
            self._last_job = max(j.job_id for j in jobs)
        return sorted(jobs, key=lambda j: j.job_id)

    def new_executions(self) -> list[Execution]:
        """SQL executions started since the previous call."""
        out = []
        for e in self._list(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= self._last_execution:
                continue
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            metrics: dict[tuple[str, str], float] = {}
            for node in self._list(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                if not _REPORTED_NODES.search(name):
                    continue
                op = name.split(" ")[0]
                for m in self._list(node.metrics()):
                    text = values.get(m.accumulatorId())
                    if text is None:
                        continue
                    key = (op, m.name())
                    metrics[key] = metrics.get(key, 0.0) + parse_sql_metric(text)
            out.append(Execution(eid, metrics))
        if out:
            self._last_execution = max(e.execution_id for e in out)
        return out


def codegen_totals(spark: SparkSession) -> tuple[int, float]:
    """(compilations, compile seconds) since the JVM started, from
    ``CodegenMetrics.METRIC_COMPILATION_TIME`` (a histogram of per-compile
    milliseconds). Its reservoir holds the last 1028 samples, so beyond that
    the seconds are the sample mean times the count."""
    hist = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    count = hist.getCount()
    values = list(hist.getSnapshot().getValues())
    if not values:
        return count, 0.0
    return count, sum(values) / len(values) * count / 1e3


def jvm_gc_seconds(spark: SparkSession) -> float:
    """Collection time of the driver JVM so far, summed over its collectors.
    In local mode the executors run inside this JVM, so this is their GC
    time plus the driver's."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3
