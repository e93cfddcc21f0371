"""Spans around the engine's layer entry points, recorded from outside.

`install()` replaces public functions and methods of the engine's layer
modules, at module-attribute level, with wrappers that record a span
(name, start, end, parent) while a Tracer is active and call straight
through otherwise. It must run before `__spark_entry__` is imported, so
that registry modules which bind a kernel by name get the wrapper.

A wrapper keeps the wrapped function's `__module__` and `__qualname__`
and is what that name resolves to, so cloudpickle ships it to Python
workers by reference; a worker imports the module unpatched.

Most operators only build a plan and return a DataFrame; their caller
runs it. So the first action (`collect`, `toPandas`, `count`) the caller
runs after such an operator returns is timed under the operator's span
too: `operators.out_neighbors` is plan build plus execution of its
result. Ingest has no such hand-off (its plans run inside
`PropertyGraph.save`), so `sources.*` spans time plan build only and the
parse itself runs under `graph.save`.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError
from pyspark.sql.classic.dataframe import DataFrame

_ACTIVE: "Tracer | None" = None


class Tracer:
    """Spans in memory: [name, start, end, parent index, op], and counts
    keyed by (name, op)."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counts: dict[tuple[str, str | None], int] = defaultdict(int)
        self._stack: list[int] = []
        self.op: str | None = None
        # (span name, caller's span index): the caller's next action on a
        # DataFrame is timed under that name.
        self.pending: tuple[str, int] | None = None

    def top(self) -> int:
        return self._stack[-1] if self._stack else -1

    def start(self, name: str) -> int:
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter()
        self._stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.start(name)
        try:
            yield
        finally:
            self.end(idx)

    def self_ms(self, ops: set[str] | None = None) -> dict[str, float]:
        """Per span name: total duration minus the time its direct children
        cover, in ms, over spans of the given ops (all spans if None)."""
        child = [0.0] * len(self.spans)
        for name, s, e, parent, op in self.spans:
            if parent >= 0 and e is not None:
                child[parent] += e - s
        out: dict[str, float] = defaultdict(float)
        for i, (name, s, e, parent, op) in enumerate(self.spans):
            if e is not None and (ops is None or op in ops):
                out[name] += (e - s - child[i]) * 1e3
        return out

    def calls(self, ops: set[str] | None = None) -> dict[str, int]:
        """Spans and counts per name, over the given ops (all if None)."""
        out: dict[str, int] = defaultdict(int)
        for name, s, e, parent, op in self.spans:
            if ops is None or op in ops:
                out[name] += 1
        for (name, op), n in self.counts.items():
            if ops is None or op in ops:
                out[name] += n
        return out


def activate(tracer: Tracer | None) -> None:
    global _ACTIVE
    _ACTIVE = tracer


def active() -> Tracer | None:
    return _ACTIVE


def _wrap(fn, name: str | None, count=None, lazy: bool = False):
    """Records a span `name` (none if None); `count`, if given, is a pair
    (counter name, function of the call's arguments) added to a count.
    If `lazy` and the call returns a DataFrame, the caller's next action
    is timed under `name` as well."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tracer = _ACTIVE
        if tracer is None:
            return fn(*args, **kwargs)
        if count is not None:
            tracer.counts[count[0], tracer.op] += count[1](*args, **kwargs)
        if name is None:
            return fn(*args, **kwargs)
        idx = tracer.start(name)
        try:
            out = fn(*args, **kwargs)
        finally:
            tracer.end(idx)
        if lazy and isinstance(out, DataFrame) and tracer.top() >= 0:
            tracer.pending = (name, tracer.top())
        return out

    return wrapper


def _action(fn):
    """A DataFrame action: run under a pending operator's span if the
    operator's caller runs it, straight through otherwise."""

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        tracer = _ACTIVE
        pending = tracer.pending if tracer is not None else None
        if pending is None or pending[1] != tracer.top():
            return fn(self, *args, **kwargs)
        tracer.pending = None
        with tracer.span(pending[0]):
            return fn(self, *args, **kwargs)

    return wrapper


def _patch(owner, attr: str, name: str | None, count=None, lazy: bool = False) -> None:
    raw = inspect.getattr_static(owner, attr)
    if isinstance(raw, (classmethod, staticmethod)):
        setattr(owner, attr, type(raw)(_wrap(raw.__func__, name, count, lazy)))
    else:
        setattr(owner, attr, _wrap(raw, name, count, lazy))


def _public_functions(module):
    """Public functions defined in `module`, less the `*_sql` builders of
    oracle SQL text."""
    return [n for n, f in vars(module).items()
            if inspect.isfunction(f) and not n.startswith("_") and not n.endswith("_sql")
            and f.__module__ == module.__name__]


def install() -> None:
    """Wrap the layer entry points. Span names are `<layer>.<entry>`."""
    from code_graph_backend_spark import cypher, functions
    from code_graph_backend_spark.graph.model import PropertyGraph
    from code_graph_backend_spark.mutations.oplog import OpLog
    from code_graph_backend_spark.operators import (aggregates, components, hits, labelprop,
                                                    neighbors, pagerank, search, traversal)
    from code_graph_backend_spark.service import api
    from code_graph_backend_spark.sources import python_analyzer, source_scan

    for method in ("repo_info", "graph_entities", "get_neighbors", "auto_complete",
                   "find_paths", "chat"):
        _patch(api.CodeGraphService, method, "service.method")
    _patch(api.CodeGraphService, "analyze_folder", "service.method")
    _patch(api.RepoInfoStore, "get", "service.info_store_get")
    _patch(PropertyGraph, "load", "graph.load")
    _patch(PropertyGraph, "save", "graph.save")
    for fn in _public_functions(neighbors):
        _patch(neighbors, fn, f"operators.{fn}", lazy=True)
    _patch(traversal, "find_paths", "operators.find_paths", lazy=True)
    _patch(search, "auto_complete", "operators.auto_complete", lazy=True)
    _patch(aggregates, "counts", "operators.counts", lazy=True)
    api.counts = aggregates.counts  # the service binds it by name at import
    _patch(cypher, "run_cypher", "cypher.run", lazy=True)
    for attr in ("collect", "toPandas", "count"):
        setattr(DataFrame, attr, _action(getattr(DataFrame, attr)))
    _patch(source_scan, "scan_source_tree", "sources.scan")
    _patch(python_analyzer, "parse_files", "sources.parse")
    _patch(python_analyzer, "graph_from_parsed", "sources.graph_build")
    _patch(OpLog, "replay_path", "mutations.replay")
    _patch(OpLog, "apply", None, ("mutations.ops_replayed", lambda *a, **k: 1))
    for info in pkgutil.iter_modules(functions.__path__):
        module = importlib.import_module(f"{functions.__name__}.{info.name}")
        for fn in _public_functions(module):
            _patch(module, fn, "functions.kernel")
    # The graph kernels the registry's graph_* and dedup queries call.
    for module in (hits, labelprop, pagerank, components):
        for fn in _public_functions(module):
            _patch(module, fn, "operators.kernel")


class SparkStats:
    """Per-op Spark work, read from outside the engine: each op runs in
    its own job group; job ids come from the status tracker and stage
    metrics from the status store (the data behind the web UI, which the
    benchmark keeps disabled)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.groups: list[str] = []

    def group(self, name: str) -> None:
        self.groups.append(name)
        self.sc.setJobGroup(name, name)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def totals(self, groups: list[str] | None = None) -> dict[str, float]:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), self.sc.statusTracker()
        out = dict.fromkeys(("jobs", "stages", "tasks", "task_ms", "sched_wait_ms",
                             "shuffle_read_bytes", "shuffle_write_bytes", "gc_ms"), 0.0)
        for g in self.groups if groups is None else groups:
            for jid in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(jid)
                out["jobs"] += 1
                for sid in info.stageIds if info else ():
                    try:
                        st = store.lastStageAttempt(sid)
                    except Py4JJavaError:  # no attempt recorded for this stage
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numCompleteTasks()
                    out["task_ms"] += st.executorRunTime()
                    out["shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["gc_ms"] += st.jvmGcTime()
                    sub, first = st.submissionTime(), st.firstTaskLaunchedTime()
                    if sub.isDefined() and first.isDefined():
                        out["sched_wait_ms"] += first.get().getTime() - sub.get().getTime()
        return out
