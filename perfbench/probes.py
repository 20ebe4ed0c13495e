"""Probes for the KG benchmark, kept entirely outside the program.

Three probes, all installed from the benchmark's side of the API:

* ``Tracer`` records spans (name, start, end, parent) in memory.
* ``instrument`` wraps ``StageStore.write``/``read``/``_footer_counts``
  and build_kg's inline candidate plan for the duration of one traced
  call, records a span around each, and tags every stage write's Spark
  jobs with ``setJobGroup``.
* ``task_metrics`` reads the JVM status store (works with the UI off)
  and sums the task metrics of a set of Spark stages;
  ``ProgressListener`` records per-micro-batch streaming progress.
"""

from __future__ import annotations

import contextlib
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from prom_spark.pipeline import kg as kg_module
from prom_spark.sinks import StageStore


class Tracer:
    """In-memory span recorder; spans nest by call order on one thread."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **tags):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **tags,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def total(self, name: str, since: int = 0, **tags) -> float:
        """Summed duration of the spans called ``name`` (matching
        ``tags``) recorded at or after span id ``since``."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans[since:]
            if s["name"] == name and all(s.get(k) == v for k, v in tags.items())
        )

    def count(self, name: str, since: int = 0) -> int:
        return sum(1 for s in self.spans[since:] if s["name"] == name)

    def self_time(self, span_id: int) -> float:
        """A span's duration minus the time its direct children cover."""
        s = self.spans[span_id]
        children = sum(
            c["end"] - c["start"] for c in self.spans if c["parent"] == span_id
        )
        return (s["end"] - s["start"]) - children


@contextlib.contextmanager
def instrument(tracer: Tracer, sc, group_prefix: str):
    """Record sink spans and tag Spark jobs by KG stage while active.

    Jobs submitted inside ``StageStore.write(stage, ...)`` belong to job
    group ``<group_prefix>:<stage>``; every other job submitted while
    active (driver-side collects, counts, resume reads) belongs to
    ``<group_prefix>:driver``.
    """
    orig_write = StageStore.write
    orig_read = StageStore.read
    orig_footer = StageStore.__dict__["_footer_counts"]
    orig_inline = kg_module.detect_matching_mentions
    driver_group = f"{group_prefix}:driver"

    def write(self, stage, *args, **kwargs):
        sc.setJobGroup(f"{group_prefix}:{stage}", stage)
        try:
            with tracer.span("sinks.write", stage=stage):
                return orig_write(self, stage, *args, **kwargs)
        finally:
            sc.setJobGroup(driver_group, "driver")

    def read(self, stage):
        with tracer.span("sinks.read", stage=stage):
            return orig_read(self, stage)

    def footer_counts(path):
        with tracer.span("sinks.footer"):
            return orig_footer.__func__(path)

    def detect_matching_mentions(*args, **kwargs):
        # build_kg calls this only when its candidate plan gate picks
        # the inline-keyset plan, so the span count is the gate outcome
        with tracer.span("mentions.inline_plan"):
            return orig_inline(*args, **kwargs)

    StageStore.write = write
    kg_module.detect_matching_mentions = detect_matching_mentions
    StageStore.read = read
    StageStore._footer_counts = staticmethod(footer_counts)
    sc.setJobGroup(driver_group, "driver")
    try:
        yield
    finally:
        StageStore.write = orig_write
        StageStore.read = orig_read
        StageStore._footer_counts = orig_footer
        kg_module.detect_matching_mentions = orig_inline
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _settle(sc) -> None:
    """Wait until the listener bus has delivered every finished task's
    metrics to the status store."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def stage_ids_for_group(sc, group: str) -> set[int]:
    tracker = sc.statusTracker()
    ids: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is not None:
            ids.update(info.stageIds)
    return ids


_METRIC_FIELDS = {
    "tasks": "numCompleteTasks",
    "task_run_s": "executorRunTime",
    "task_cpu_s": "executorCpuTime",
    "gc_s": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": "diskBytesSpilled",
}
# status-store units -> reported units
_SCALE = {"task_run_s": 1e-3, "task_cpu_s": 1e-9, "gc_s": 1e-3}


def _stage_list(sc):
    """Every Spark stage attempt the status store retains (a Scala Seq)."""
    jvm = sc._jvm
    return sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )


def max_stage_id(sc) -> int:
    _settle(sc)
    seq = _stage_list(sc)
    return max((seq.apply(i).stageId() for i in range(seq.length())), default=-1)


def task_metrics(sc, stage_ids) -> dict:
    """Task metrics summed over the attempts of the given Spark stages."""
    _settle(sc)
    out = {k: 0.0 for k in _METRIC_FIELDS}
    seq = _stage_list(sc)
    for i in range(seq.length()):
        st = seq.apply(i)
        if st.stageId() not in stage_ids:
            continue
        for key, field in _METRIC_FIELDS.items():
            out[key] += getattr(st, field)() * _SCALE.get(key, 1)
    return out


class ProgressListener(StreamingQueryListener):
    """Per-query streaming progress: batch ids, input rows and the
    ``durationMs`` breakdown of every micro-batch."""

    def __init__(self) -> None:
        self.runs: dict[str, list[dict]] = {}
        self.finished: list[str] = []
        self._done = threading.Condition()

    def onQueryStarted(self, event) -> None:
        self.runs.setdefault(str(event.runId), [])

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.runs.setdefault(str(p.runId), []).append(
            {
                "batch_id": p.batchId,
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._done:
            self.finished.append(str(event.runId))
            self._done.notify_all()

    def wait_finished(self, seen: int, timeout: float = 60.0) -> list[dict]:
        """Block until a query terminates after the first ``seen`` ones;
        return its micro-batches that read input rows."""
        with self._done:
            if not self._done.wait_for(lambda: len(self.finished) > seen, timeout):
                raise TimeoutError("streaming listener saw no termination")
            run_id = self.finished[seen]
        return [b for b in self.runs.get(run_id, []) if b["rows"] > 0]
