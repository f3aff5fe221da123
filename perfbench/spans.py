"""Spans around the program's layer boundaries, recorded from outside.

``Tracer.wrap(module, attr, name)`` replaces the name a calling module binds
(``plans.silver.write_partitioned_parquet``, ``plans.q_docs.table_scan``...)
with a wrapper that opens a span. Each span sets its own Spark job group, so
Spark's own counters (jobs, tasks, shuffle, spill, executor run time) are
attributed to the innermost span that launched the job. Spans are kept in
memory; ``spark_by_group`` reads the counters once at the end from the
driver's status REST endpoint on localhost.
"""

from __future__ import annotations

import functools
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

SPARK_COUNTERS = ("jobs", "tasks", "scan_tasks", "scan_files", "shuffle_write_bytes", "spill_bytes",
                  "executor_run_s")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int  # id of the root span of the operation (request) this span serves
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. ``sc`` is attached once the SparkContext exists."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.sc = None
        self.overhead_s = 0.0  # time spent in span bookkeeping
        self._stack: list[Span] = []
        self._patched: list[tuple[Any, str, Any]] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, **attrs: Any):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 parent.op if parent else len(self.spans), 0.0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        self.overhead_s += s.start - t0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - s.end

    def wrap(self, module: Any, attr: str, name: str,
             after: Callable[[Span, tuple, dict, Any], None] | None = None,
             before: Callable[[Span, tuple, dict], None] | None = None) -> None:
        """Replace ``module.attr`` with a spanned wrapper (undone by ``unwrap_all``)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name) as s:
                if before is not None:
                    before(s, args, kwargs)
                out = fn(*args, **kwargs)
                if after is not None:
                    t = time.perf_counter()
                    after(s, args, kwargs, out)
                    self.overhead_s += time.perf_counter() - t
                return out

        self._patched.append((module, attr, fn))
        setattr(module, attr, wrapped)

    def unwrap_all(self) -> None:
        while self._patched:
            module, attr, fn = self._patched.pop()
            setattr(module, attr, fn)

    # -- derived views ------------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_time(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the part its (sequential) children cover."""
        return s.duration - sum(k.duration for k in kids.get(s.id, ()))

    def outermost(self, name: str) -> list[Span]:
        """Spans called ``name`` with no ancestor of the same name."""
        by_id = {s.id: s for s in self.spans}
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            p = s.parent
            while p is not None and by_id[p].name != name:
                p = by_id[p].parent
            if p is None:
                out.append(s)
        return out

    def inclusive_spark(self, per_group: dict[str, dict[str, float]]) -> dict[int, dict[str, float]]:
        """Spark counters of each span plus all its descendants."""
        kids = self.children()
        memo: dict[int, dict[str, float]] = {}

        def total(s: Span) -> dict[str, float]:
            if s.id not in memo:
                acc = dict.fromkeys(SPARK_COUNTERS, 0.0)
                for k, v in per_group.get(s.group, {}).items():
                    acc[k] += v
                for c in kids.get(s.id, ()):
                    for k, v in total(c).items():
                        acc[k] += v
                memo[s.id] = acc
            return memo[s.id]

        for s in self.spans:
            total(s)
        return memo

    def dump(self) -> list[dict[str, Any]]:
        return [{"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                 "start": s.start, "end": s.end, **s.attrs} for s in self.spans]


def _get_json(url: str) -> Any:
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def spark_by_group(spark) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, scan tasks (tasks of stages that read
    input files), files read by scans (SQL metrics), shuffle write bytes,
    spill bytes, executor run seconds.
    Empty when the driver UI (and its status endpoint) is disabled."""
    sc = spark.sparkContext
    url = sc.uiWebUrl
    if not url:
        return {}
    try:  # let queued listener events reach the status store
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    except Exception:  # noqa: BLE001 — private API; fall back to a pause
        time.sleep(2.0)
    port = url.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
    jobs = _get_json(f"{base}/jobs")
    stages = _get_json(f"{base}/stages")
    executions = _get_json(f"{base}/sql?details=true&planDescription=false&length=1000000")
    stage_job_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for j in jobs:
        g = j.get("jobGroup")
        if not g:
            continue
        acc = out.setdefault(g, dict.fromkeys(SPARK_COUNTERS, 0.0))
        acc["jobs"] += 1
        job_group[j["jobId"]] = g
        for sid in j.get("stageIds", ()):
            stage_job_group.setdefault(sid, g)
    for st in stages:
        g = stage_job_group.get(st["stageId"])
        if g is None or st.get("status") == "SKIPPED":
            continue
        acc = out[g]
        acc["tasks"] += st.get("numCompleteTasks", 0)
        if st.get("inputBytes", 0) > 0:
            acc["scan_tasks"] += st.get("numCompleteTasks", 0)
        acc["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
        acc["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        acc["executor_run_s"] += st.get("executorRunTime", 0) / 1000.0
    for ex in executions:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        g = next((job_group[i] for i in ids if i in job_group), None)
        if g is None:
            continue
        for node in ex.get("nodes", ()):
            if node.get("nodeName", "").startswith("Scan"):
                for met in node.get("metrics", ()):
                    if met.get("name") == "number of files read":
                        out[g]["scan_files"] += int("".join(c for c in str(met["value"]) if c.isdigit()) or 0)
    return out
