"""Spans, counters and Spark-side harvest for the traced runs.

Everything here observes the program from outside: it wraps public
functions at the places the catalog binds them, tags Spark jobs with
job groups, and reads Spark's own status stores (the Spark UI stays
disabled). Nothing in the package is edited.

A span is ``{"id", "name", "trace", "parent", "start", "end"}``; the
spans of one query share a trace id ``workload/run/pass/query``.
Spans stay in memory and are written out when the run ends. A layer's
self time is its span's duration minus the part its child spans cover.
"""

from __future__ import annotations

import contextlib
import re
import time
from collections import Counter

# Where the catalog binds ``sources.testdata.load_table``: each module
# imported the name, so each binding is wrapped.
LOAD_TABLE_SITES = (
    "bigdata_commerce_spark.plans.catalog",
    "bigdata_commerce_spark.plans.catalog_dataops",
    "bigdata_commerce_spark.plans.catalog_relational_ext",
)


class Tracer:
    """In-memory spans and counters, plus the job group of the phase
    that is running (so a nested call can tag its own jobs and restore
    the outer group)."""

    def __init__(self, spark, trace_id: str = "") -> None:
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.group: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Time ``name``; with ``group``, jobs started inside run under
        Spark job group ``<trace>:<group>`` and the outer group is
        restored after."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "trace": self.trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        outer = self.group
        if group is not None:
            self._set_group(f"{self.trace_id}:{group}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self._set_group(outer)

    def _set_group(self, group: str | None) -> None:
        self.group = group
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    def total(self, name: str, trace_id: str) -> float:
        return sum(
            s["end"] - s["start"] for s in self.spans if s["name"] == name and s["trace"] == trace_id
        )


@contextlib.contextmanager
def instrumented(tracer: Tracer):
    """Wrap ``load_table`` at each catalog binding, ``DataFrame.persist``
    / ``DataFrame.cache`` and ``cache_util.persist_bounded`` for the
    duration of the block."""
    import importlib

    from pyspark.sql.classic.dataframe import DataFrame

    from bigdata_commerce_spark.operators import cache_util

    patches: list[tuple[object, str, object]] = []

    def patch(owner, attr, wrapper_factory):
        original = getattr(owner, attr)
        patches.append((owner, attr, original))
        setattr(owner, attr, wrapper_factory(original))

    def wrap_load_table(original):
        def load_table(spark, name, *args, **kwargs):
            tracer.counts["sources.load_table_calls"] += 1
            with tracer.span("sources.load_table", group=f"{_phase(tracer)}.load") as rec:
                rec["table"] = name
                return original(spark, name, *args, **kwargs)

        return load_table

    def counting(key):
        def factory(original):
            def wrapper(*args, **kwargs):
                tracer.counts[key] += 1
                return original(*args, **kwargs)

            return wrapper

        return factory

    for site in LOAD_TABLE_SITES:
        patch(importlib.import_module(site), "load_table", wrap_load_table)
    patch(DataFrame, "persist", counting("cache.persist_calls"))
    patch(DataFrame, "cache", counting("cache.persist_calls"))
    patch(cache_util, "persist_bounded", counting("cache.bounded_calls"))
    try:
        yield tracer
    finally:
        for owner, attr, original in reversed(patches):
            setattr(owner, attr, original)


def _phase(tracer: Tracer) -> str:
    """The running phase's group name without the trace prefix."""
    group = tracer.group or ""
    return group.rsplit(":", 1)[-1] if group else "none"


# --- Spark status stores ---------------------------------------------------

_STAGE_FIELDS = (
    "stages",
    "tasks",
    "failed_tasks",
    "task_run_s",
    "task_cpu_s",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "gc_s",
)
_MB = 1024.0 * 1024.0


class SparkStores:
    """Reads job, stage and SQL-operator metrics from the running
    application's status stores."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        self._seen_exec = -1

    def job_count(self) -> int:
        """Jobs the application has started so far (as retained by the
        status store)."""
        return self._store.jobsList(None).size()

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_metrics(self, job_ids: list[int]) -> dict[str, float]:
        """Sums over the distinct stages of ``job_ids`` that ran
        (stages AQE skipped are not counted)."""
        out = dict.fromkeys(_STAGE_FIELDS, 0.0)
        stage_ids = set()
        tracker = self.sc.statusTracker()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        for sid in stage_ids:
            try:
                d = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage never submitted
                continue
            if d.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += d.numCompleteTasks()
            out["failed_tasks"] += d.numFailedTasks()
            out["task_run_s"] += d.executorRunTime() / 1e3
            out["task_cpu_s"] += d.executorCpuTime() / 1e9
            out["input_mb"] += d.inputBytes() / _MB
            out["shuffle_read_mb"] += d.shuffleReadBytes() / _MB
            out["shuffle_write_mb"] += d.shuffleWriteBytes() / _MB
            out["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / _MB
            out["gc_s"] += d.jvmGcTime() / 1e3
        return out

    def python_metrics(self) -> dict[str, float]:
        """Python/Arrow boundary metrics of the SQL executions that
        started since the previous call."""
        out = {"python_rows": 0.0, "python_mb_sent": 0.0, "python_run_s": 0.0}
        newest = self._seen_exec
        for ex in self._conv.asJava(self._sql.executionsList()):
            eid = ex.executionId()
            if eid <= self._seen_exec:
                continue
            newest = max(newest, eid)
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            for node in self._conv.asJava(self._sql.planGraph(eid).allNodes()):
                if "Python" not in node.name() and "Pandas" not in node.name():
                    continue
                for m in self._conv.asJava(node.metrics()):
                    text = values.get(m.accumulatorId())
                    if text is None:
                        continue
                    if m.name() == "number of output rows":
                        out["python_rows"] += parse_metric(text)
                    elif m.name() == "data sent to Python workers":
                        out["python_mb_sent"] += parse_metric(text) / _MB
                    elif m.name() == "time to run Python workers":
                        out["python_run_s"] += parse_metric(text)
        self._seen_exec = newest
        return out

    def storage_mb(self) -> float:
        """Memory plus disk held by cached RDDs right now."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / _MB

    def jvm_peak_rss_mb(self) -> float:
        """The driver JVM's ``VmHWM`` (peak resident set)."""
        pid = int(self.sc._jvm.ProcessHandle.current().pid())
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")


_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE_RE = re.compile(r"([\d.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it: ``'1,000'``, or
    ``'total (min, med, max ...)\\n8.5 KiB (...)'`` for size and timing
    metrics. Sizes come back in bytes and timings in seconds."""
    total = text.split("\n", 1)[-1]
    m = _VALUE_RE.match(total.strip())
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)
