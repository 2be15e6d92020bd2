"""Spans around layer calls, and Spark's own counters attributed to them.

``Tracer`` keeps spans in memory (name, start, end, parent, run id) and
computes each span's self time: its duration minus its child spans'.
Spans are recorded only from the benchmark's files, around calls into
the engine's layers; no engine file changes.

``SparkCounters`` tags every job a span starts with a Spark job group
(``sc.setJobGroup``) and afterwards reads the stage counters of those
jobs from Spark's status store, so task time, shuffle bytes and the
like are attributed to the call that caused them.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the durations of its direct children.

    ``Tracer`` keeps one stack and closes spans in reverse order, so
    children never overlap each other or outlast their parent."""
    out = [sp.end - sp.start for sp in spans]
    for sp in spans:
        if sp.parent is not None:
            out[sp.parent] -= sp.end - sp.start
    return out


class Tracer:
    """In-memory span recorder.  ``enabled=False`` records nothing, so
    the same call sites serve traced and untraced passes."""

    def __init__(self, run_id: str, enabled: bool = True) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.run_id, dict(attrs))
        self.spans.append(sp)
        self._stack.append(idx)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        rows = [dict(asdict(sp), self_s=st) for sp, st in zip(self.spans, selfs)]
        with open(path, "w") as f:
            json.dump(rows, f)


@contextmanager
def sources_spans(tracer: Tracer, enabled: bool):
    """While active, every ``sources.load_table`` call (direct, or via
    ``load_tables`` and the catalog) records a span."""
    if not enabled:
        yield
        return
    from mapreduceimpl_spark import catalog
    from mapreduceimpl_spark.sources import registry

    original = registry.load_table

    def load_table(*args, **kwargs):
        with tracer.span("sources.load_table"):
            return original(*args, **kwargs)

    targets = (registry, catalog)
    saved = [getattr(m, "load_table") for m in targets]
    for m in targets:
        m.load_table = load_table
    try:
        yield
    finally:
        for m, fn in zip(targets, saved):
            m.load_table = fn


_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE_RE = re.compile(r"([0-9][0-9.,]*) (B|KiB|MiB|GiB|TiB)\b")
_NUMBER_RE = re.compile(r"[0-9][0-9,]*(?:\.[0-9]+)?")


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric: a size (``'1.2 MiB'``, or
    ``'total (min, med, max ...)\\n1.2 MiB (...)'``, where the total is
    the first size after the header line) in bytes, or a plain count
    (``'1,234'``)."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _SIZE_RE.search(body)
    if m:
        return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]
    m = _NUMBER_RE.search(body)
    return float(m.group(0).replace(",", "")) if m else 0.0


# SQL metrics summed per pass, by the name Spark gives them
SQL_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "number of written files": "files_written",
}


STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "inputBytes", "inputRecords",
    "outputBytes", "shuffleReadBytes", "shuffleWriteBytes", "shuffleFetchWaitTime",
    "memoryBytesSpilled", "diskBytesSpilled", "numTasks", "numFailedTasks",
)


class SparkCounters:
    """Job-group tagging and status-store reads for one SparkContext."""

    def __init__(self, spark) -> None:
        self._spark = spark
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()  # noqa: SLF001
        self._quant = self._sc._gateway.new_array(self._sc._jvm.double, 2)  # noqa: SLF001
        self._quant[0], self._quant[1] = 0.5, 1.0
        self._n = 0

    def new_group(self, label: str) -> str:
        self._n += 1
        group = f"pb{self._n}-{label}"
        self._sc.setJobGroup(group, label, False)
        return group

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)

    def group_counters(self, group: str) -> dict:
        """Sum the stage counters of every job in ``group`` (skipped
        stages carry zeros and are not counted as stages)."""
        tracker = self._sc.statusTracker()
        out = {k: 0 for k in STAGE_FIELDS}
        out.update(jobs=0, stages=0, scan_tasks=0, scan_run_ms=0, max_over_median=0.0)
        seen: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if str(st.status()) != "COMPLETE":
                    continue
                out["stages"] += 1
                vals = {k: getattr(st, k)() for k in STAGE_FIELDS}
                for k, v in vals.items():
                    out[k] += v
                if vals["inputBytes"] > 0:
                    out["scan_tasks"] += vals["numTasks"]
                    out["scan_run_ms"] += vals["executorRunTime"]
                summary = self._store.taskSummary(sid, st.attemptId(), self._quant)
                if summary.isDefined():
                    run = summary.get().executorRunTime()
                    med, mx = run.apply(0), run.apply(1)
                    if med > 0:
                        out["max_over_median"] = max(out["max_over_median"], mx / med)
        return out

    def sql_metrics(self, since_execution: int) -> dict[str, float]:
        """``SQL_METRICS`` summed over SQL executions with id >=
        ``since_execution``: bytes sent to / received from Python
        workers and files written."""
        store = self._spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
        execs = store.executionsList()
        out = dict.fromkeys(SQL_METRICS.values(), 0.0)
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid < since_execution:
                continue
            names = {}
            ms = ex.metrics()
            for k in range(ms.size()):
                pm = ms.apply(k)
                names[pm.accumulatorId()] = pm.name()
            it = store.executionMetrics(eid).iterator()
            while it.hasNext():
                kv = it.next()
                key = SQL_METRICS.get(names.get(kv._1(), ""))
                if key:
                    out[key] += parse_sql_metric(kv._2())
        return out

    def last_execution_id(self) -> int:
        """One past the newest SQL execution id so far."""
        store = self._spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
        execs = store.executionsList()
        return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1) + 1
