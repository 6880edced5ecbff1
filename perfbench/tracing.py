"""Per-layer tracing for the traced benchmark run.

Spans wrap the package's public functions from outside the package. A
wrapper replaces every module attribute that *is* the original function
object, so ``from .writer import commit_snapshot`` bindings in other
modules are traced too. DataFrame/RDD actions and py4j ``send_command``
are wrapped the same way. ``Tracer.install`` returns nothing to the timed
runs: an untraced run never constructs a ``Tracer``.

Spans are kept in memory per op. A span's self time is its duration minus
the time its child spans cover.
"""

from __future__ import annotations

import functools
import gc
import sys
import threading
import time
from dataclasses import dataclass, field

PKG = "duckdb_iceberg_spark"

#: (module, function, layer). The layer names are the per-layer metric
#: prefixes.
TARGETS = [
    ("metadata.table_metadata", "load_table_metadata", "metadata"),
    ("metadata.table_metadata", "write_table_metadata", "metadata"),
    ("metadata.manifest", "read_manifest", "metadata"),
    ("metadata.manifest", "read_manifest_list", "metadata"),
    ("metadata.manifest", "write_manifest", "metadata"),
    ("metadata.manifest", "write_manifest_list", "metadata"),
    ("metadata.avro_io", "read_avro_file", "metadata"),
    ("plans.scan_plan", "plan_scan", "plans"),
    ("plans.distributed_planner", "plan_scan_distributed", "plans"),
    ("sources.scan", "iceberg_scan", "scan"),
    ("sources.scan", "scan_to_dataframe", "scan"),
    ("jrpc", "read_files", "scan"),
    ("jrpc", "select_exprs", "scan"),
    ("sources.writer", "write_iceberg", "writer"),
    ("sources.writer", "write_data_files", "writer"),
    ("sources.writer", "commit_snapshot", "commit"),
    ("sources.writer", "_build_snapshot", "commit"),
    ("sources.writer", "_merge_small_manifests", "commit"),
    ("sources.dml", "delete_from", "dml"),
    ("sources.dml", "update_iceberg", "dml"),
    ("sources.dml", "merge_into", "dml"),
    ("sources.maintenance", "rewrite_data_files", "maint"),
    ("sources.maintenance", "rewrite_position_delete_files", "maint"),
    ("sources.maintenance", "expire_snapshots", "maint"),
]

#: Spark actions: each blocks the driver on executor work.
ACTIONS = [
    ("pyspark.sql.classic.dataframe", "DataFrame",
     ("collect", "count", "toPandas", "take", "head", "first", "isEmpty",
      "toLocalIterator", "foreach", "foreachPartition", "show")),
    ("pyspark.rdd", "RDD",
     ("collect", "count", "take", "reduce", "foreach", "foreachPartition")),
    ("pyspark.sql.readwriter", "DataFrameWriter",
     ("save", "parquet", "orc", "json", "csv", "insertInto", "saveAsTable")),
]

PY4J = [("py4j.clientserver", "ClientServerConnection"),
        ("py4j.java_gateway", "GatewayConnection")]


@dataclass(eq=False)
class Span:
    name: str
    layer: str
    t0: float
    parent: "Span | None"
    t1: float = 0.0
    py4j: int = 0
    child_s: float = 0.0
    result: object = None
    args: tuple = ()
    kwargs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.child_s

    def ancestors(self):
        p = self.parent
        while p is not None:
            yield p
            p = p.parent

    def inside(self, name: str) -> bool:
        return any(p.name == name for p in self.ancestors())


class Tracer:
    """Records spans and counters while ``active``; between ops and in
    untraced ops every wrapper calls straight through."""

    def __init__(self):
        self.active = False
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.py4j_calls = 0
        self.gc_s = 0.0
        self._gc_t0 = None
        self._main = threading.get_ident()
        self._restore: list[tuple[object, str, object]] = []

    # --- installation -----------------------------------------------------

    def install(self) -> None:
        import importlib

        for mod_name, fn_name, layer in TARGETS:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            orig = getattr(mod, fn_name)
            self._rebind(orig, self._wrap(orig, fn_name, layer))
        for mod_name, cls_name, methods in ACTIONS:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            for m in methods:
                if m in vars(cls):
                    self._patch(cls, m, self._wrap(vars(cls)[m],
                                                   f"action.{m}", "exec"))
        for mod_name, cls_name in PY4J:
            cls = getattr(importlib.import_module(mod_name), cls_name)
            self._patch(cls, "send_command", self._count_py4j(
                vars(cls)["send_command"]))
        gc.callbacks.append(self._on_gc)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()
        if self._on_gc in gc.callbacks:
            gc.callbacks.remove(self._on_gc)

    def _patch(self, owner, attr, new) -> None:
        self._restore.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _rebind(self, orig, wrapper) -> None:
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name == PKG or name.startswith(PKG + ".")
                                   or name.startswith("perfbench.")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    self._patch(mod, attr, wrapper)

    # --- wrappers ---------------------------------------------------------

    def _wrap(self, orig, name, layer):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active or threading.get_ident() != tracer._main:
                return orig(*args, **kwargs)
            parent = tracer.stack[-1] if tracer.stack else None
            span = Span(name, layer, time.perf_counter(), parent,
                        args=args, kwargs=kwargs)
            tracer.stack.append(span)
            try:
                span.result = orig(*args, **kwargs)
                return span.result
            finally:
                span.t1 = time.perf_counter()
                tracer.stack.pop()
                if parent is not None:
                    parent.child_s += span.dur
                tracer.spans.append(span)

        return wrapper

    def _count_py4j(self, orig):
        tracer = self

        from py4j.protocol import MEMORY_COMMAND_NAME

        @functools.wraps(orig)
        def send_command(conn, command, *args, **kwargs):
            # reference releases are sent whenever Python finalizes a JVM
            # handle, so their timing is not a property of the op
            if tracer.active and not command.startswith(MEMORY_COMMAND_NAME):
                tracer.py4j_calls += 1
                if threading.get_ident() == tracer._main:
                    for s in tracer.stack:
                        s.py4j += 1
            return orig(conn, command, *args, **kwargs)

        return send_command

    def _on_gc(self, phase, info) -> None:
        if not self.active:
            return
        if phase == "start":
            self._gc_t0 = time.perf_counter()
        elif self._gc_t0 is not None:
            self.gc_s += time.perf_counter() - self._gc_t0
            self._gc_t0 = None

    # --- per-op bookkeeping -----------------------------------------------

    def start_op(self) -> None:
        self.spans = []
        self.stack = []
        self.py4j_calls = 0
        self.gc_s = 0.0
        self.active = True

    def end_op(self) -> dict:
        self.active = False
        return {"spans": self.spans, "py4j": self.py4j_calls,
                "gc_s": self.gc_s}


class JobGroup:
    """Spark jobs, stages and tasks of one op, from a job group set for the
    op, plus executor run time and shuffle bytes from the executor summary
    deltas (local mode has one executor, the driver)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def _executor_totals(self) -> tuple[int, int]:
        run_ms = shuffle = 0
        it = self.sc._jsc.sc().statusStore().executorList(True).iterator()
        while it.hasNext():
            e = it.next()
            run_ms += e.totalDuration()
            shuffle += e.totalShuffleWrite()
        return run_ms, shuffle

    def start(self, group: str) -> None:
        self.group = group
        self.sc.setJobGroup(group, group)
        self.before = self._executor_totals()

    def stop(self) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sorted(self.tracker.getJobIdsForGroup(self.group))
        # the status store is fed by the listener bus; wait until it has
        # seen every job of the group end so the task counts are final
        deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            infos = [self.tracker.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED")
                   for i in infos):
                break
            time.sleep(0.01)
        stages = tasks = 0
        for info in infos:
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks + st.numFailedTasks:
                    stages += 1
                    tasks += st.numTasks
        run_ms, shuffle = self._executor_totals()
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "executor_run_s": (run_ms - self.before[0]) / 1000.0,
                "shuffle_write_mb": (shuffle - self.before[1]) / 2**20}
