"""Layer tracing from outside the engine.

The tracer wraps the public functions of each engine module at the
attribute through which their callers look them up, and records a span
per call: name, layer, start, end and parent span.  Around each call it
sets the Spark job group to the layer's name, so every job the call
launches can be attributed to that layer afterwards.

Spans stay in memory until the run ends.  Stage metrics are read from
Spark's status store only after the timed part, never inside it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path
from time import perf_counter

PKG = "datapoints_csv_extractor_spark"

LAYERS = [
    "sources.files", "sources.tebis_csv", "sinks.datapoints",
    "sinks.catalog_store", "sinks.lifecycle", "streaming.live",
    "plans.pipeline", "plans.read_api",
]
STAGE_FIELDS = ("exec_run_ms", "jobs", "tasks", "input_bytes", "shuffle_write_bytes")
UNATTRIBUTED = "unattributed"
# Job groups of the benchmark's own work: calls made without tracing,
# and traced calls outside any layer's span (the root span's group).
UNTRACED_GROUP = "bench.untraced"
BENCH_GROUP = "bench"

# (module whose attribute is replaced, attribute, layer of the callee).
# Names imported with ``from x import f`` are wrapped in the importing
# module, because that is the attribute the caller looks up.
WRAP_POINTS = [
    ("plans.pipeline", "run_historical", "plans.pipeline"),
    ("plans.pipeline", "find_historical_files", "sources.files"),
    ("plans.pipeline", "read_datapoints", "sources.tebis_csv"),
    ("plans.pipeline", "write_datapoints", "sinks.datapoints"),
    ("plans.pipeline", "append_missing", "sinks.catalog_store"),
    ("plans.pipeline", "setup_directories", "sinks.lifecycle"),
    ("plans.pipeline", "finalize_succeeded", "sinks.lifecycle"),
    ("plans.pipeline", "quarantine_failed", "sinks.lifecycle"),
    ("streaming.live", "process_batch", "streaming.live"),
    ("streaming.live", "read_datapoints", "sources.tebis_csv"),
    ("streaming.live", "write_datapoints", "sinks.datapoints"),
    ("streaming.live", "append_missing", "sinks.catalog_store"),
    ("streaming.live", "setup_directories", "sinks.lifecycle"),
    ("streaming.live", "finalize_succeeded", "sinks.lifecycle"),
    ("streaming.live", "quarantine_failed", "sinks.lifecycle"),
]


@contextlib.contextmanager
def job_group(sc, group: str | None):
    """Spark jobs started inside join job group ``group``; the previous
    group is restored on exit."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    parent: int | None
    end: float | None = None
    children: list[int] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def count_files(path) -> int:
    return sum(1 for _ in Path(path).rglob("*.parquet"))


class Tracer:
    """Spans, counters and job groups for one benchmark run.

    ``adopt`` names the span that spans opened on a thread with no open
    span of its own are parented to: the streaming engine calls the
    engine's batch function from threads the benchmark does not own.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[int, Span] = {}
        self.counters: dict[str, float] = defaultdict(float)
        self.adopt: int | None = None
        self.roots: list[int] = []      # one root span per traced operation
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, layer: str, name: str, parent: int | None = None) -> int:
        stack = self._stack()
        if parent is None:
            parent = stack[-1] if stack else self.adopt
        with self._lock:
            sid = next(self._ids)
            self.spans[sid] = Span(sid, name, layer, perf_counter(), parent)
            if parent is not None:
                self.spans[parent].children.append(sid)
        return sid

    def close(self, sid: int) -> None:
        self.spans[sid].end = perf_counter()

    @contextlib.contextmanager
    def span(self, layer: str, name: str | None = None, group: str | None = None):
        """A span on this thread; Spark jobs inside it join job group
        ``group``, by default the layer's name."""
        sid = self.open(layer, name or layer)
        stack = self._stack()
        stack.append(sid)
        try:
            with job_group(self.sc, group or layer):
                yield sid
        finally:
            stack.pop()
            self.close(sid)

    def count(self, key: str, amount: float = 1) -> None:
        with self._lock:
            self.counters[key] += amount

    # -- wrapping ------------------------------------------------------
    def install(self) -> None:
        """Wrap every ``WRAP_POINTS`` attribute and the catalog lock;
        ``uninstall`` restores them."""
        if self._patches:
            return
        for mod_name, attr, layer in WRAP_POINTS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            fn = getattr(mod, attr)
            self._patches.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, layer, f"{layer}.{attr}"))
        cat = importlib.import_module(f"{PKG}.sinks.catalog_store")
        self._patches.append((cat, "catalog_lock", cat.catalog_lock))
        cat.catalog_lock = self._timed_lock(cat.catalog_lock)

    def uninstall(self) -> None:
        while self._patches:
            mod, attr, fn = self._patches.pop()
            setattr(mod, attr, fn)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self
        attr = name.rsplit(".", 1)[1]
        sink_files = attr == "write_datapoints"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if sink_files:
                before = count_files(args[1])
            with tracer.span(layer, name):
                result = fn(*args, **kwargs)
            if sink_files:
                tracer.count("sinks.datapoints.files_written", count_files(args[1]) - before)
            tracer._observe(attr, args, result)
            return result

        return traced

    def _timed_lock(self, lock_fn):
        tracer = self

        @contextlib.contextmanager
        def timed(*args, **kwargs):
            t0 = perf_counter()
            with lock_fn(*args, **kwargs):
                tracer.count("sinks.catalog_store.lock_wait_ms", (perf_counter() - t0) * 1000)
                yield

        return timed

    def _observe(self, attr: str, args, result) -> None:
        """Counters taken from a traced call's arguments and result."""
        if attr == "read_datapoints":
            self.count("ingest.csv_bytes", sum(Path(p).stat().st_size for p in args[1]))
        elif attr == "append_missing":
            self.count("sinks.catalog_store.new_series", int(result))
        elif attr in ("finalize_succeeded", "quarantine_failed"):
            self.count("sinks.lifecycle.files_moved",
                       sum(not Path(p).exists() for p in args[0]))

    # -- analysis ------------------------------------------------------
    def self_ms(self, sid: int) -> float:
        s = self.spans[sid]
        return s.ms - sum(self.spans[c].ms for c in s.children)

    def layer_times(self, roots: list[int]) -> dict[str, dict[str, float]]:
        """Per layer: outermost-span ``calls`` and ``wall_ms``, and ``self_ms``
        (span time not covered by child spans), over the trees at ``roots``."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "wall_ms": 0.0, "self_ms": 0.0})

        def walk(sid: int, outer: frozenset) -> None:
            s = self.spans[sid]
            acc = out[s.layer]
            acc["self_ms"] += self.self_ms(sid)
            if s.layer not in outer:
                acc["calls"] += 1
                acc["wall_ms"] += s.ms
            for c in s.children:
                walk(c, outer | {s.layer})

        for r in roots:
            walk(r, frozenset())
        return out

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
             "start": s.start, "end": s.end}
            for s in sorted(self.spans.values(), key=lambda s: s.id)
        ]


def epoch_ms() -> float:
    """Wall-clock now in ms, comparable with Spark's job submission times."""
    return time.time() * 1000.0


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def max_job_id(sc) -> int:
    store = sc._jsc.sc().statusStore()
    return max((j.jobId() for j in _scala_iter(store.jobsList(None))), default=-1)


def group_stage_metrics(sc, after_job: int, job_key) -> dict[str, dict[str, int]]:
    """Stage metrics of the jobs with id above ``after_job``, summed per
    key.  ``job_key(group, submitted_epoch_ms)`` maps a job's group (or
    None) and submission time to a key (a layer name), or to None to
    leave the job out.  Each stage counts once, for the first job that
    lists it.  Call after the timed part."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    gw = sc._gateway
    empty = sc._jvm.java.util.ArrayList()
    stages = {}
    for st in _scala_iter(store.stageList(empty, False, False,
                                          gw.new_array(gw.jvm.double, 0), empty)):
        if str(st.status()) != "SKIPPED":
            stages.setdefault(st.stageId(), []).append(st)
    out: dict[str, dict[str, int]] = defaultdict(lambda: dict.fromkeys(STAGE_FIELDS, 0))
    seen: set[int] = set()
    jobs = sorted(_scala_iter(store.jobsList(None)), key=lambda j: j.jobId())
    for job in jobs:
        if job.jobId() <= after_job:
            continue
        group = job.jobGroup().get() if job.jobGroup().isDefined() else None
        sub = job.submissionTime()
        key = job_key(group, sub.get().getTime() if sub.isDefined() else None)
        if key is None:
            continue
        acc = out[key]
        acc["jobs"] += 1
        for sid in _scala_iter(job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            for st in stages.get(sid, []):
                acc["tasks"] += st.numCompleteTasks()
                acc["exec_run_ms"] += st.executorRunTime()
                acc["input_bytes"] += st.inputBytes()
                acc["shuffle_write_bytes"] += st.shuffleWriteBytes()
    return out


def files_read(df) -> int:
    """Files the scans of an executed DataFrame read, from the scan
    nodes' ``numFiles`` metric; call after the DataFrame's action."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if kind == "FileSourceScanExec":
            metric = node.metrics().get("numFiles")
            if metric.isDefined():
                total += metric.get().value()
        stack.extend(_scala_iter(node.children()))
    return total
