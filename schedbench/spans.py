"""Spans, per-layer self time, and Spark counters per span.

The benchmark measures the engine from outside: :class:`Tracer` wraps
each layer's public functions as module attributes (and restores them
on :meth:`Tracer.uninstall`), so no engine file changes. Every wrapped
call

* opens a span (name, layer, start, end, parent, run id), kept in
  memory and written out at the end of the run;
* runs under its own Spark job group, so jobs, tasks and executor time
  can be attributed to it afterwards;
* forces a returned DataFrame at the end of its span with an eager
  ``localCheckpoint`` (Spark is lazy — without this the span would time
  only planning). The consumer then reads the checkpoint, so each
  piece of work is done once and lands in the span that asked for it.
  The forcing jobs are part of the reported tracing overhead.

A layer's self time is its spans' durations minus the part of each
interval that child spans cover; the root span's self time is the
benchmark's own code between engine calls (the uncovered remainder).
Counts the benchmark takes of a call's result (row counts, distinct
segments) run after the call's span has ended, in ``count`` spans.
"""

from __future__ import annotations

import datetime
import functools
import json
import time
import urllib.parse
import urllib.request
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame

# spans of the benchmark's own counting jobs (see Tracer.wrap)
COUNT_LAYER = "count"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    group: str = ""


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """{span id: duration minus the union of its children's intervals}."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - _union_length(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


def layer_table(spans: list[Span]) -> dict:
    """Per-layer self time, the uncovered remainder (root self time) and
    the roots' wall time. Self times partition each root's interval when
    spans nest, so layers + uncovered = wall."""
    own = self_times(spans)
    layers: dict[str, float] = {}
    for s in spans:
        if s.parent is not None:
            layers[s.layer] = layers.get(s.layer, 0.0) + own[s.id]
    roots = [s for s in spans if s.parent is None]
    wall = sum(s.end - s.start for s in roots)
    uncovered = sum(own[s.id] for s in roots)
    return {
        "layers": layers,
        "uncovered_s": uncovered,
        "wall_s": wall,
    }


def _force(value):
    """Materialize DataFrames (also inside tuples) and hand back frames
    that read the materialized rows."""
    if isinstance(value, DataFrame):
        return value.localCheckpoint(eager=True)
    if isinstance(value, tuple):
        return tuple(_force(v) for v in value)
    return value


class Tracer:
    """In-memory span recorder plus the module-attribute wrappers."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[Span] = []
        self._prev_groups: list[str | None] = []
        self._patched: list[tuple[object, str, object]] = []
        self._seen: dict[str, set] = {}

    # -- spans -------------------------------------------------------------
    def begin(self, name: str, layer: str) -> Span:
        s = Span(
            id=len(self.spans),
            name=name,
            layer=layer,
            parent=self._stack[-1].id if self._stack else None,
            run_id=self.run_id,
            start=time.time(),
        )
        s.group = f"{self.run_id}-{s.id}"
        self._prev_groups.append(self.sc.getLocalProperty("spark.jobGroup.id"))
        self.sc.setJobGroup(s.group, f"{layer}:{name}")
        self.spans.append(s)
        self._stack.append(s)
        return s

    def end(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()
        self.sc.setLocalProperty("spark.jobGroup.id", self._prev_groups.pop())

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def see(self, key: str, items) -> None:
        """Add ``items`` to a named distinct set (e.g. segments tuned)."""
        self._seen.setdefault(key, set()).update(items)

    def distinct(self, key: str) -> int:
        return len(self._seen.get(key, ()))

    # -- wrapping ----------------------------------------------------------
    def wrap(self, owner, attr: str, layer: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned version. ``after(result,
        args, kwargs)`` records counts once the span has ended, in a
        span of its own in the ``COUNT_LAYER`` (with its own job group),
        so the counting jobs and time stay out of the engine layer and
        land in the tracing overhead. Methods are wrapped on their
        class, so ``self`` arrives as the first positional argument."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            s = tracer.begin(attr, layer)
            try:
                out = _force(orig(*args, **kwargs))
            finally:
                tracer.end(s)
            if after is not None:
                c = tracer.begin(f"count:{attr}", COUNT_LAYER)
                try:
                    after(out, args, kwargs)
                finally:
                    tracer.end(c)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# -- Spark counters per span ---------------------------------------------------


# the status API is local: never route it through an ambient HTTP proxy
_LOCAL = urllib.request.build_opener(urllib.request.ProxyHandler({}))


def _rest(ui: str, app: str, path: str):
    with _LOCAL.open(f"{ui}/api/v1/applications/{app}/{path}", timeout=30) as r:
        return json.load(r)


def _epoch(stamp: str) -> float:
    # the status API prints e.g. 2026-10-17T02:50:01.123GMT
    dt = datetime.datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


def spark_counters(spark, spans: list[Span], timeout: float = 60.0) -> tuple[dict, dict]:
    """Jobs, tasks and executor metrics per span: job ids by job group
    from the status tracker, job times and stage metrics for those ids
    from the local status API. Waits until the listener has recorded
    every job as finished. Returns ({span id: counters}, {span id:
    [(job start, job end)]})."""
    sc = spark.sparkContext
    port = urllib.parse.urlsplit(sc.uiWebUrl).port
    ui, app = f"http://127.0.0.1:{port}", sc.applicationId
    tracker = sc.statusTracker()
    owner = {jid: s.id for s in spans for jid in tracker.getJobIdsForGroup(s.group)}
    per_span = {s.id: {"jobs": 0, "tasks": 0, "failed_tasks": 0, "executor_run_s": 0.0,
                       "executor_cpu_s": 0.0, "shuffle_bytes": 0, "gc_s": 0.0}
                for s in spans}
    intervals: dict[int, list] = {s.id: [] for s in spans}
    # two bulk reads of the status store, retried until the listener has
    # recorded every job of these groups as finished
    deadline = time.time() + timeout
    while True:
        jobs = {j["jobId"]: j for j in _rest(ui, app, "jobs")}
        if all("completionTime" in jobs.get(j, {}) for j in owner) or time.time() > deadline:
            break
        time.sleep(0.05)
    stages: dict[int, list] = {}
    for st in _rest(ui, app, "stages"):
        stages.setdefault(st["stageId"], []).append(st)
    seen_stages: set[int] = set()
    # job-id order: a shuffle stage reused by a later job is listed by
    # both, and belongs to the first (the later job shows it skipped)
    for jid in sorted(owner):
        job, c = jobs.get(jid, {}), per_span[owner[jid]]
        c["jobs"] += 1
        c["tasks"] += job.get("numCompletedTasks", 0) + job.get("numFailedTasks", 0)
        c["failed_tasks"] += job.get("numFailedTasks", 0)
        if "submissionTime" in job and "completionTime" in job:
            intervals[owner[jid]].append(
                (_epoch(job["submissionTime"]), _epoch(job["completionTime"]))
            )
        for sid in job.get("stageIds", []):
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            for att in stages.get(sid, []):
                c["executor_run_s"] += att.get("executorRunTime", 0) / 1e3
                c["executor_cpu_s"] += att.get("executorCpuTime", 0) / 1e9
                c["gc_s"] += att.get("jvmGcTime", 0) / 1e3
                c["shuffle_bytes"] += att.get("shuffleWriteBytes", 0)
    return per_span, intervals
