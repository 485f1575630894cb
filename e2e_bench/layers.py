"""Per-layer measurement for the traced run, taken from outside the engine.

- ``Tracer`` wraps public functions of the engine's modules at the module
  attributes callers resolve (``from x import f`` copies the reference, so
  every engine module holding it is patched), records one span per call in
  memory, and turns spans into self times.
- ``JobStore`` reads finished jobs and stage attempts from Spark's status
  store, and GC time and heap from the JVM's management beans.

Wrapped functions must not be shipped to Python workers: none of the
benchmark's code paths pickles one.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: span name -> (module, attribute) of the engine functions it wraps;
#: a dotted attribute names a method (class.method).
ENGINE_ENTRY_POINTS = {
    "tables.load": [
        ("mb8600_clickhouse_spark.tables", "load_tables"),
        ("mb8600_clickhouse_spark.tables", "register_views"),
        ("mb8600_clickhouse_spark.tables", "LazyTables.__missing__"),
    ],
    "functions.register": [
        ("mb8600_clickhouse_spark.functions.clickhouse", "register_clickhouse_functions"),
    ],
    "functions.rewrite": [
        ("mb8600_clickhouse_spark.functions.chsql", "rewrite_clickhouse_sql"),
    ],
    "functions.ch_sql": [("mb8600_clickhouse_spark.functions.chsql", "ch_sql")],
    "streaming.build": [
        ("mb8600_clickhouse_spark.streaming.ingest", "read_payload_stream"),
        ("mb8600_clickhouse_spark.streaming.ingest", "manifest_epoch_sink"),
    ],
    "parse": [("mb8600_clickhouse_spark.streaming.ingest", "parse_payloads")],
    "plans.commit": [("mb8600_clickhouse_spark.plans.manifest", "ManifestTable.append")],
    "plans.compact": [("mb8600_clickhouse_spark.plans.manifest", "ManifestTable.compact")],
}
OPERATOR_PACKAGE = "mb8600_clickhouse_spark.operators"
PARSE_MODULE = "mb8600_clickhouse_spark.parse"


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """In-memory spans. Spans opened on a thread with no open span of its
    own (the streaming sink's callback thread, registration pool threads)
    hang off the current root span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.conflicts = 0
        self.enabled = False
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        # perf_counter -> epoch seconds, to line spans up with Spark's clock
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, name, start, end, attrs))

    @contextmanager
    def root_span(self, name: str, **attrs):
        """The span a traced unit (set-up or pass) hangs everything off."""
        with self.span(name, **attrs):
            self.root = self._stack()[-1]
            try:
                yield self.root
            finally:
                self.root = None

    # -- installation --------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped_by_bench__ = fn
        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap_function(self, module: str, attr: str, name: str) -> None:
        if "." in attr:
            cls_name, meth = attr.split(".")
            cls = getattr(importlib.import_module(module), cls_name)
            self._patch(cls, meth, self._wrap(cls.__dict__[meth], name))
            return
        fn = getattr(importlib.import_module(module), attr)
        wrapper = self._wrap(fn, name)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("mb8600_clickhouse_spark") and (
                mod.__dict__.get(attr) is fn
            ):
                self._patch(mod, attr, wrapper)

    def wrap_module(self, module, name: str) -> None:
        """Every public function defined in ``module``."""
        for attr, fn in list(vars(module).items()):
            if (
                not attr.startswith("_")
                and inspect.isfunction(fn)
                and fn.__module__ == module.__name__
            ):
                self.wrap_function(module.__name__, attr, name)

    def install(self) -> None:
        from pyspark.sql import SparkSession

        from mb8600_clickhouse_spark.plans import manifest

        self._patch(
            SparkSession, "newSession",
            self._wrap(SparkSession.__dict__["newSession"], "session.new_session"),
        )
        for name, targets in ENGINE_ENTRY_POINTS.items():
            for module, attr in targets:
                self.wrap_function(module, attr, name)
        pkg = importlib.import_module(OPERATOR_PACKAGE)
        for info in pkgutil.iter_modules(pkg.__path__):
            full = f"{OPERATOR_PACKAGE}.{info.name}"
            if full in sys.modules:  # only operators the engine has loaded
                self.wrap_module(sys.modules[full], "operators")
        self.wrap_module(importlib.import_module(PARSE_MODULE), "parse")

        backend_put = manifest.PosixLinkBackend.__dict__["put_if_absent"]
        tracer = self

        def counted(backend, path, payload):
            won = backend_put(backend, path, payload)
            if not won:
                with tracer._lock:
                    tracer.conflicts += 1
            return won

        self._patch(manifest.PosixLinkBackend, "put_if_absent", counted)
        self.enabled = True

    def uninstall(self) -> None:
        self.enabled = False
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches.clear()

    # -- analysis ------------------------------------------------------------
    def subtree(self, root: int) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            for s in kids.get(todo.pop(), []):
                out.append(s)
                todo.append(s.sid)
        return out

    def self_times(self, spans: list[Span]) -> dict[str, float]:
        """Layer name -> summed self time (duration minus the part its
        child spans cover)."""
        kids: dict[int, list[Span]] = {}
        for s in spans:
            kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in spans:
            child = [(c.start, c.end) for c in kids.get(s.sid, [])]
            out[s.name] = out.get(s.name, 0.0) + s.dur - covered(child, s.start, s.end)
        return out

    def write(self, path: str) -> None:
        base = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.sid, "parent": s.parent, "name": s.name,
                     "start_s": s.start - base, "end_s": s.end - base, **s.attrs}
                    for s in self.spans
                ],
                f,
            )


class JobStore:
    """Finished jobs and stage attempts from Spark's in-process status store
    (populated with the UI disabled), and JVM GC time / heap."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jvm = self._sc._jvm
        self._store = self._sc._jsc.sc().statusStore()
        self.jobs: list[dict] = []

    def gc_s(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def heap_mb(self) -> float:
        mx = self._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mx.getHeapMemoryUsage().getUsed() / 2**20

    def load(self) -> None:
        """Read every finished job with its stage attempts (epoch-second
        times; task, retry, shuffle and spill counts). Stages a job skipped
        (shuffle output reused) ran no tasks and are left out."""
        empty = self._sc._gateway.new_array(self._jvm.double, 0)
        stages = self._store.stageList(None, False, False, empty, None)
        by_id: dict[int, list[dict]] = {}
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.status().toString() == "SKIPPED":
                continue
            by_id.setdefault(s.stageId(), []).append({
                "attempt": s.attemptId(),
                "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_ms": s.executorRunTime(),
                "shuffle_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            })
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.completionTime().isEmpty():
                continue
            ids = j.stageIds()
            self.jobs.append({
                "start": j.submissionTime().get().getTime() / 1000.0,
                "end": j.completionTime().get().getTime() / 1000.0,
                "stages": [a for k in range(ids.size()) for a in by_id.get(ids.apply(k), [])],
            })

    def exec_metrics(self, lo: float, hi: float, actions, cores: int) -> dict[str, float]:
        """``exec.*`` for one traced unit: jobs submitted in [lo, hi] (epoch
        seconds). ``actions`` are the unit's action intervals; their wall not
        covered by any job is driver time (analysis, planning, scheduling,
        result transfer)."""
        jobs = [j for j in self.jobs if lo <= j["start"] <= hi]
        intervals = [(j["start"], j["end"]) for j in jobs]
        run_s = covered(intervals, lo, hi)
        attempts = [a for j in jobs for a in j["stages"]]
        busy_ms = sum(a["run_ms"] for a in attempts)
        return {
            "exec.run_s": run_s,
            "exec.driver_s": sum((b - a) - covered(intervals, a, b) for a, b in actions),
            "exec.jobs": len(jobs),
            "exec.stages": len(attempts),
            "exec.tasks": sum(a["tasks"] for a in attempts),
            "exec.task_retries": sum(a["failed_tasks"] for a in attempts)
            + sum(1 for a in attempts if a["attempt"] > 0),
            "exec.shuffle_bytes": sum(a["shuffle_bytes"] for a in attempts),
            "exec.spill_bytes": sum(a["spill_bytes"] for a in attempts),
            "exec.task_busy_share": busy_ms / 1000.0 / (run_s * cores) if run_s else 0.0,
        }
