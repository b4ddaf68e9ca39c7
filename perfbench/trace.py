"""Per-layer tracing from outside the engine.

Nothing in the engine is edited. :class:`Tracer` wraps the public
functions of each layer module at runtime, in every engine module that
holds a reference to them. Each call becomes a :class:`Span` (name, start,
end, parent, run id) kept in memory; a span's *self time* is its duration
minus its children's. Each span also sets a Spark job group on entry, so
:class:`StatusReader` can read Spark's own job and stage metrics back from
the status store and attribute them to the span that launched the job.
Streaming phases come from :class:`StreamProgress`, a Python
``StreamingQueryListener``.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

PACKAGE = "data_transform_make_spark"

# layer name -> module, the unit the per-layer metrics are named after
LAYERS = {
    "session": "session",
    "sources.loader": "sources.loader",
    "sources.ingest": "sources.ingest",
    "sources.sinks": "sources.sinks",
    "operators.joins": "operators.joins",
    "operators.windows": "operators.windows",
    "operators.dedup": "operators.dedup",
    "operators.graph": "operators.graph",
    "operators.ranking": "operators.ranking",
    "operators.similarity": "operators.similarity",
    "plans.order_pipeline": "plans.order_pipeline",
    "plans.training_corpus": "plans.training_corpus",
    "streaming": "streaming.pipelines",
}

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: int


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> own duration minus the durations of its direct children."""
    own = {s.id: s.end - s.start for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in own:
            own[s.parent] -= s.end - s.start
    return own


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Layer -> {"calls", "self_s"} over ``spans``."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "self_s": 0.0})
    for s in spans:
        out[s.name]["calls"] += 1
        out[s.name]["self_s"] += selfs[s.id]
    return dict(out)


class Tracer:
    """Span recorder; disabled until :meth:`enable`, so one process can
    interleave traced and untraced passes."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.run = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans ----------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _SpanContext(self, name) if self.enabled else contextlib.nullcontext()

    # -- wrapping ---------------------------------------------------------
    def install(self) -> int:
        """Wrap every public function of every layer module, in every
        loaded engine module that refers to it. Returns the number of
        functions wrapped."""
        import importlib

        originals: dict[int, tuple[object, object]] = {}
        for layer, mod_name in LAYERS.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for name, fn in list(vars(mod).items()):
                if name.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                originals[id(fn)] = (fn, self._wrap(layer, fn))
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for name, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, name, hit[1])
        return len(originals)

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(layer):
                return fn(*args, **kwargs)

        return wrapper


def _set_group(group: str | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty("spark.jobGroup.id", group)


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        stack = t._stack()
        self.parent = stack[-1] if stack else None
        self.id = next(t._ids)
        stack.append(self.id)
        _set_group(f"{GROUP_PREFIX}{self.id}")
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        t = self.tracer
        t._stack().pop()
        _set_group(None if self.parent is None else f"{GROUP_PREFIX}{self.parent}")
        with t._lock:
            t.spans.append(Span(self.id, self.name, self.start, end, self.parent, t.run))
        return False


class TraceError(RuntimeError):
    """The status store no longer holds data the run needs."""


STAGE_FIELDS = {
    "task_s": ("executorRunTime", 1e-3),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "input_mb": ("inputBytes", 1e-6),
    "output_mb": ("outputBytes", 1e-6),
    "spill_mb": ("diskBytesSpilled", 1e-6),
    "tasks": ("numTasks", 1),
}


class StatusReader:
    """Reads finished jobs and their stages from Spark's status store.

    The store keeps only ``spark.ui.retainedJobs``/``retainedStages``
    (1000 by default) and evicts the oldest first, so it is read after
    every operation; a job id or stage that has gone missing in between
    raises :class:`TraceError` instead of being undercounted.
    """

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.next_job = self._max_job() + 1
        self._seen_stages: set[tuple[int, int]] = set()

    def _jobs(self):
        jl = self.store.jobsList(None)
        return [jl.apply(i) for i in range(jl.size())]

    def _max_job(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def read(self) -> list[dict]:
        """Jobs finished since the last read: one dict per job with its
        group, wall interval (ms since epoch) and summed stage metrics."""
        jobs = {j.jobId(): j for j in self._jobs() if j.jobId() >= self.next_job}
        if not jobs:
            return []
        top = max(jobs)
        missing = [i for i in range(self.next_job, top + 1) if i not in jobs]
        if missing:
            raise TraceError(f"status store evicted jobs {missing[:5]}... before they were read")
        running = [i for i, j in jobs.items() if not j.completionTime().isDefined()]
        if running:
            raise TraceError(f"jobs {running} still running at read time")
        out = []
        arr = self.sc._jvm.java.util.ArrayList
        quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        for jid in sorted(jobs):
            j = jobs[jid]
            g = j.jobGroup()
            rec = {
                "job": jid,
                "group": g.get() if g.isDefined() else None,
                "start_ms": j.submissionTime().get().getTime(),
                "end_ms": j.completionTime().get().getTime(),
                "stages": 0,
            }
            for k in STAGE_FIELDS:
                rec[k] = 0.0
            ids = j.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                try:
                    attempts = self.store.stageData(sid, False, arr(), False, quantiles)
                except Exception as e:  # py4j wraps NoSuchElementException
                    raise TraceError(f"status store evicted stage {sid} of job {jid}") from e
                for a in range(attempts.size()):
                    st = attempts.apply(a)
                    key = (st.stageId(), st.attemptId())
                    if key in self._seen_stages or st.status().toString() == "SKIPPED":
                        continue
                    self._seen_stages.add(key)
                    rec["stages"] += 1
                    for k, (field, scale) in STAGE_FIELDS.items():
                        rec[k] += getattr(st, field)() * scale
            out.append(rec)
        self.next_job = top + 1
        return out


def busy_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def make_stream_listener():
    """A ``StreamingQueryListener`` that keeps each progress event's
    ``durationMs`` phases, tagged with the query's source description."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []
            self.terminated = 0
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            rec = {
                "source": " ".join(s.description for s in p.sources),
                "rows": p.numInputRows,
                **{k: float(v) for k, v in p.durationMs.items()},
            }
            with self._lock:
                self.events.append(rec)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self._lock:
                self.terminated += 1

        def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
            deadline = time.monotonic() + timeout
            while self.terminated < n:
                if time.monotonic() > deadline:
                    raise TraceError(f"listener saw {self.terminated} of {n} stream terminations")
                time.sleep(0.01)

        def take(self, needle: str) -> list[dict]:
            """Remove and return the events of queries reading ``needle``."""
            with self._lock:
                mine = [e for e in self.events if needle in e["source"]]
                self.events = [e for e in self.events if needle not in e["source"]]
            return mine

    return StreamProgress()
