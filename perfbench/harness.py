"""Closed-loop driver shared by the workloads: one client thread, one
Spark session, a fixed op sequence per seed, and the metric definitions.

A workload object provides ``build(location)`` (setting ``loc``),
``warmup_ops()``, ``timed_ops()``, ``run_op(op)`` (the timed call into the
package), ``expected(op)`` and ``check(op, result, expected)`` (the
correctness oracle, outside the timed region), ``end_state()``,
``table_stats()`` and ``live_rows()``.
"""

from __future__ import annotations

import gc
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

#: end-to-end metrics, reported by every workload with tracing off
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "kind_p50_s": "s",
    "driver_rss_peak_mb": "MB",
    "bytes_per_live_row": "bytes",
}

#: op kinds of every workload; each gets an ``op.<kind>_p50_s`` metric
KINDS = ("append", "delete", "update", "merge", "read", "maintain",
         "w16", "w48", "w128", "w320")

#: per-layer metrics, reported by every workload from the traced run (a
#: layer a workload never enters reads 0). Unit ``count.exact`` marks a
#: count that repeats exactly between traced runs of one seed.
PER_LAYER = {
    "metadata.load_s": "s",
    "metadata.manifest_reads": "count.exact",
    "metadata.manifest_decodes": "count.exact",
    "metadata.manifest_cache_hit_ratio": "ratio",
    "metadata.entries_decoded": "count.exact",
    "metadata.write_s": "s",
    "metadata.manifests_written": "count.exact",
    "metadata.metadata_json_bytes": "bytes",
    "plans.plan_s": "s",
    "plans.distributed_share": "ratio",
    "plans.manifests_pruned_ratio": "ratio",
    "plans.files_pruned_ratio": "ratio",
    "plans.tasks_per_plan": "count.exact",
    "plans.delete_files_per_plan": "count.exact",
    "scan.construct_s": "s",
    "scan.memo_hit_ratio": "ratio",
    "scan.repeat_share": "ratio",
    "scan.py4j_calls_per_construct": "count.exact",
    "py4j.calls_per_op": "count.exact",
    "exec.action_s": "s",
    "exec.jobs_per_op": "count.exact",
    "exec.stages_per_op": "count.exact",
    "exec.tasks_per_op": "count.exact",
    "exec.executor_run_s": "s",
    "exec.shuffle_write_mb": "MB",
    "writer.write_s": "s",
    "writer.files_per_write": "count.exact",
    "writer.bytes_per_row_written": "bytes",
    "commit.commit_s": "s",
    "commit.manifest_merges": "count.exact",
    "commit.attempts": "count.exact",
    "dml.delete_files_per_op": "count.exact",
    "maint.rewrite_s": "s",
    "maint.files_rewritten": "count.exact",
    "maint.bytes_rewritten": "bytes",
    "maint.expire_s": "s",
    "maint.files_expired": "count.exact",
    "table.data_files": "count.exact",
    "table.delete_files": "count.exact",
    "table.manifests": "count.exact",
    "table.snapshots": "count.exact",
    "driver.py_gc_s": "s",
    "driver.gc_between_ops_s": "s",
    "driver.jvm_rss_peak_mb": "MB",
    **{f"op.{k}_p50_s": "s" for k in KINDS},
    "op.tail_s": "s",
    "op.tail_pct": "%",
    "op.tail_n": "count",
    "op.failed_share": "ratio",
    "trace.coverage": "ratio",
    "trace.overhead": "ratio",
}

#: builds per run; setup_s takes their median
BUILDS = 3


@dataclass
class Op:
    kind: str
    args: tuple


# --- session ----------------------------------------------------------------

def prepare_env(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``, size the session to the host's CPUs, and let executor-side
    Python workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        # executor-side Python workers run this interpreter, which has
        # pyspark; the JVM binds to loopback only
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_LOCAL_HOSTNAME": "localhost",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
    })
    import tempfile

    tempfile.tempdir = None


def _java_quote(s: str) -> str:
    return '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'


def start_session(work: str):
    from duckdb_iceberg_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            # Spark splits this string on blanks outside double quotes, so
            # quote the path: a checkout path may hold blanks
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={_java_quote(tmp)} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.hadoop.hadoop.tmp.dir": tmp,
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit, also when the JVM has already died."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:
        traceback.print_exc()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def jvm_rss_peak_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def driver_rss_peak_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except FileNotFoundError:
                pass
    return total


# --- statistics -------------------------------------------------------------

def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it:
    (value, percentile, n). Below 11 samples it is the maximum."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def kind_p50(durations) -> float:
    """Geometric mean over op kinds of each kind's median latency. Kinds
    differ up to 20x in latency, so a pooled median would sit wherever
    the op mix puts it; this weighs every kind once."""
    kinds = sorted({k for k, _, _ in durations})
    meds = [statistics.median([d for k2, d, _ in durations if k2 == k])
            for k in kinds]
    return statistics.geometric_mean(meds)


def trace_overhead(durations) -> float:
    """Traced ops/s over untraced ops/s on the same op mix: each traced op
    is set against the mean untraced op of its kind; kinds with no
    untraced op are left out."""
    plain: dict[str, list[float]] = {}
    for k, d, t in durations:
        if not t:
            plain.setdefault(k, []).append(d)
    traced = [(k, d) for k, d, t in durations if t and k in plain]
    if not traced:
        return 1.0
    return (sum(statistics.fmean(plain[k]) for k, _ in traced)
            / sum(d for _, d in traced))


# --- the loop ---------------------------------------------------------------

class Failures:
    def __init__(self):
        self.attempted = 0
        self.raised = 0
        self.items: list[tuple[str, str]] = []

    def run(self, wl, op: Op, timed: bool):
        """Run one op and its check; returns (seconds, whether the op
        returned). An op that raises, or whose result check fails, is a
        failed op."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = wl.run_op(op)
        except Exception as e:  # the op failed: record it and go on
            dt = time.perf_counter() - t0
            self.raised += timed
            self.items.append((op.kind, _err(e)))
            try:  # keep the oracle in step with the op sequence
                wl.expected(op)
            except Exception:
                pass
            return dt, False
        dt = time.perf_counter() - t0
        try:
            err = wl.check(op, result, wl.expected(op))
        except Exception as e:
            err = _err(e)
        if err:
            self.items.append((op.kind, err))
        return dt, True

    def record(self, kind: str, err: str | None) -> None:
        self.attempted += 1
        if err:
            self.items.append((kind, err))


def _err(e: BaseException) -> str:
    last = traceback.format_exception_only(type(e), e)[-1].strip()
    return last[:300]


def run_workload(wl, spark, work: str, trace: bool,
                 session_s: float = 0.0) -> dict:
    """Build, warm up and run ``wl``; return the result object."""
    fails = Failures()

    builds = []
    for i in range(BUILDS):
        loc = os.path.join(work, f"table-{i}")
        t0 = time.perf_counter()
        wl.build(loc)
        builds.append(time.perf_counter() - t0)
        if i < BUILDS - 1:
            shutil.rmtree(loc)
    t0 = time.perf_counter()
    for op in wl.warmup_ops():
        fails.run(wl, op, timed=False)
        gc.collect()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(builds) + warm_s

    tracer = jobs = None
    if trace:
        from .layers import op_layers
        from .tracing import JobGroup, Tracer

        tracer = Tracer()
        tracer.install()
        jobs = JobGroup(spark)

    durations: list[tuple[str, float, bool]] = []
    layer_ops: list[dict] = []
    gc_between = 0.0
    seen_kind: dict[str, int] = {}
    seen_key: set = set()
    repeats = 0
    try:
        for i, op in enumerate(wl.timed_ops()):
            repeats += (op.kind, op.args) in seen_key
            seen_key.add((op.kind, op.args))
            # the traced run traces every other op of each kind, starting
            # with the first; the rest give the untraced baseline for
            # trace.overhead
            k = seen_kind[op.kind] = seen_kind.get(op.kind, -1) + 1
            traced = trace and k % 2 == 0
            if traced:
                jobs.start(f"perfbench-op-{i}")
                tracer.start_op()
            dt, ok = fails.run(wl, op, timed=True)
            if traced:
                rec = tracer.end_op()
                rec.update(jobs.stop(), kind=op.kind, wall=dt)
                # an op that raised left spans without results; it is
                # already counted as failed
                if ok:
                    layer_ops.append(op_layers(rec))
            durations.append((op.kind, dt, traced))
            t0 = time.perf_counter()
            gc.collect()
            gc_between += time.perf_counter() - t0
    finally:
        if tracer is not None:
            tracer.uninstall()

    try:
        fails.record("end_state", wl.end_state())
    except Exception as e:
        fails.record("end_state", _err(e))
    n_ops = len(durations)
    all_dt = [d for _, d, _ in durations]
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "ops_per_s": (n_ops - fails.raised) / sum(all_dt),
            "kind_p50_s": kind_p50(durations),
            "driver_rss_peak_mb": driver_rss_peak_mb(),
            "bytes_per_live_row": dir_bytes(wl.loc) / wl.live_rows(),
        }
        units = END_TO_END
    else:
        from .layers import summarize

        metrics = summarize(layer_ops, wl.table_stats())
        t_val, t_pct, t_n = tail(all_dt)
        metrics.update({
            "scan.repeat_share": repeats / n_ops,
            "driver.gc_between_ops_s": gc_between / n_ops,
            "driver.jvm_rss_peak_mb": jvm_rss_peak_mb(spark),
            "op.tail_s": t_val,
            "op.tail_pct": t_pct,
            "op.tail_n": t_n,
            "op.failed_share": len(fails.items) / fails.attempted,
            "trace.overhead": trace_overhead(durations),
        })
        for kind in KINDS:
            ds = [d for k, d, t in durations if k == kind and t]
            metrics[f"op.{kind}_p50_s"] = statistics.median(ds) if ds else 0
        units = PER_LAYER
    for kind in sorted({k for k, _, _ in durations}):
        ds = [d for k, d, _ in durations if k == kind]
        print(f"perfbench: {kind} n={len(ds)} "
              f"p50={statistics.median(ds):.3f}s", file=sys.stderr)
    print("perfbench: ops " + " ".join(f"{k}:{d:.3f}" for k, d, _ in durations),
          file=sys.stderr)
    print(f"perfbench: builds={[round(b, 3) for b in builds]} "
          f"session={session_s:.3f}s warmup={warm_s:.3f}s", file=sys.stderr)
    for kind, err in fails.items:
        print(f"FAILED op kind={kind}: {err}", flush=True)
    return {
        "correct": not fails.items,
        "attempted": fails.attempted,
        "failed": len(fails.items),
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in units.items()},
    }
