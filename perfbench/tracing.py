"""Spans around calls into the program's layers, from the benchmark's side.

A :class:`Tracer` keeps spans in memory: name, layer, start, end, parent
and row count. :meth:`Tracer.instrument` swaps a layer's public function
for a wrapper that opens a span, tags the Spark jobs it starts with a job
group named after the span, and materializes the returned DataFrame(s)
(``cache()`` + ``count()``) before the span closes, so Spark's lazy work is
charged to the layer that defined it. :func:`self_times` is the arithmetic
(span minus the part its children cover); :func:`spark_span_stats` reads
Spark's per-stage counters for each span's job group from the status REST
API (the UI must be enabled in the session).
"""

from __future__ import annotations

import contextlib
import json
import sys
import time
import urllib.request
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

#: job-group prefix; the group id of span ``n`` is f"{GROUP_PREFIX}{n}"
GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float | None = None
    rows: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its direct children cover (children clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        if s.end is None:
            continue
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.id, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.id] = s.seconds - _covered(clipped)
    return out


class Tracer:
    """In-memory span recorder bound to one SparkContext (or ``None`` in
    tests, where no job groups are set and nothing is materialized)."""

    def __init__(self, sc=None, clock: Callable[[], float] = time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._cached: list = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------

    def _set_group(self, span_id: int | None) -> None:
        if self.sc is None:
            return
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span_id}", self.spans[span_id].name)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        rec = Span(len(self.spans), name, layer, parent, self.clock(), attrs=attrs)
        self.spans.append(rec)
        self._stack.append(rec.id)
        self._set_group(rec.id)
        try:
            yield rec
        finally:
            rec.end = self.clock()
            self._stack.pop()
            self._set_group(parent)

    def materialize(self, out, rec: Span):
        """Compute ``out`` now (DataFrame, or dict of DataFrames) and keep
        it cached, so later consumers read it instead of recomputing."""
        if self.sc is None:
            return out
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            out = out.cache()
            self._cached.append(out)
            rec.rows = out.count()
        elif isinstance(out, dict) and all(isinstance(v, DataFrame) for v in out.values()):
            out = {k: self.materialize(v, rec) for k, v in out.items()}
            rec.rows = None
        return out

    def release(self) -> None:
        """Unpersist everything materialized by wrapped calls."""
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # -- instrumentation ----------------------------------------------------

    def instrument(
        self,
        module,
        fname: str,
        layer: str,
        after: Callable[[Span, tuple, dict, object], None] | None = None,
        post: Callable[[Span, tuple, dict, object], None] | None = None,
        **attrs,
    ) -> None:
        """Wrap ``module.fname`` and every other binding of the same
        function object in the program's loaded modules (``from x import
        f`` copies); :meth:`restore` undoes it. ``after(span, args, kwargs,
        result)`` runs inside the span, after materialization; ``post``
        runs once the span has closed, inside a ``bench`` span of its own,
        so Spark work it starts is charged to neither the layer nor the
        layer's caller."""
        orig = getattr(module, fname)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(f"{layer}.{fname}", layer, **attrs) as rec:
                out = tracer.materialize(orig(*args, **kwargs), rec)
                if after is not None:
                    after(rec, args, kwargs, out)
            if post is not None:
                with tracer.span(f"bench.{fname}", "bench"):
                    post(rec, args, kwargs, out)
            return out

        wrapper.__wrapped__ = orig
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if not (
                name.startswith("lab_etl_batch_data_processing_pipeline__spark")
                or name == "__spark_entry__"
            ):
                continue
            for attr, value in list(vars(mod).items()):
                if value is orig:
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, orig))

    def restore(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()


# ---------------------------------------------------------------------------
# Spark status REST API
# ---------------------------------------------------------------------------

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "gc_s", "executor_run_s",
)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


def spark_span_stats(sc, spans: list[Span], timeout_s: float = 15.0) -> dict[int, dict]:
    """Per-span Spark counters, aggregated over the jobs tagged with the
    span's job group (its own jobs only, not its children's)."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    tracker = sc.statusTracker()
    want = {
        s.id: set(tracker.getJobIdsForGroup(f"{GROUP_PREFIX}{s.id}")) for s in spans
    }
    all_ids = set().union(*want.values()) if want else set()
    deadline = time.monotonic() + timeout_s
    while True:  # the status store is filled asynchronously by a listener
        jobs = {j["jobId"]: j for j in _get(f"{base}/jobs")}
        done = all(
            j in jobs and jobs[j]["status"] in ("SUCCEEDED", "FAILED") for j in all_ids
        )
        if done or time.monotonic() > deadline:
            break
        time.sleep(0.2)
    stages: dict[int, list[dict]] = {}
    for st in _get(f"{base}/stages"):
        stages.setdefault(st["stageId"], []).append(st)
    out = {}
    for sid, job_ids in want.items():
        c = dict.fromkeys(SPARK_COUNTERS, 0)
        c["jobs"] = len(job_ids)
        seen = set()
        for j in job_ids:
            for stage_id in jobs.get(j, {}).get("stageIds", []):
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                for att in stages.get(stage_id, []):
                    if att.get("status") == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += att.get("numCompleteTasks", 0) + att.get("numFailedTasks", 0)
                    c["failed_tasks"] += att.get("numFailedTasks", 0)
                    c["shuffle_write_bytes"] += att.get("shuffleWriteBytes", 0)
                    c["shuffle_read_bytes"] += att.get("shuffleReadBytes", 0)
                    c["spill_bytes"] += att.get("memoryBytesSpilled", 0) + att.get(
                        "diskBytesSpilled", 0
                    )
                    c["gc_s"] += att.get("jvmGcTime", 0) / 1000.0
                    c["executor_run_s"] += att.get("executorRunTime", 0) / 1000.0
        out[sid] = c
    return out


def idle_frac(executor_run_s: float, wall_s: float, cores: int) -> float:
    """1 - executor run time / (wall x cores), floored at 0."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return max(0.0, 1.0 - executor_run_s / (wall_s * cores))
