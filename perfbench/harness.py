"""Measurement machinery shared by the workloads: the Spark session
environment, spans and per-layer self time, Spark status deltas, the
process-tree RSS sampler and the order-insensitive result comparison that
the DuckDB output check compares.

Nothing here starts a thread, a process or a JVM at import time.
"""

from __future__ import annotations

import datetime as dt
import decimal
import functools
import math
import os
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

PKG = "mcyj_datapipeline_spark"

# Layers whose public functions the traced run wraps, from outside the
# package, by rebinding every package-module reference to them.
INSTRUMENTED = {
    "io": ("io", ["read_table", "write_json_per_key"]),
    "plans": ("plans.website", ["interactive_filter", "nest_agencies"]),
    "plans.document_info": ("plans.document_info", ["document_info"]),
    "plans.doc_export": ("plans.doc_export", ["build_doc_export"]),
    "streaming.dedup_fold": ("streaming.dedup_fold", ["fold_dedup_batch"]),
    "streaming.release_fold": (
        "streaming.release_fold",
        ["fold_release_batch", "publish_release"],
    ),
    "operators.graph": ("operators.graph", None),
    "operators.dedup": ("operators.dedup", None),
    "operators.aggregates": ("operators.aggregates", None),
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(root: str, work: str, heap: str) -> dict:
    """Environment for a session confined to the checkout: local[nproc],
    a small pre-touched heap, every temp/spill/warehouse dir under
    ``work``, and the checkout on the Python workers' path."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = nproc()
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": (
            f"-Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp}"
        ),
        "SPARK_GRAFT_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "SPARK_GRAFT_EXTRA_CONF": "spark.ui.showConsoleProgress=false",
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = tmp
    return {"cores": cores, "heap": heap}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM
    (and with it the Python worker daemon) to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, request id). With
    ``enabled`` false every method is a cheap no-op, so the untraced
    run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.rid: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.rid])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self, root: int) -> dict[str, float]:
        """Self time by span name over the subtree of span ``root``: a
        span's duration minus what its children cover. The values add
        up to the root's duration exactly when children nest inside
        parents."""
        children: dict[int, list[int]] = {}
        for i in range(root + 1, len(self.spans)):
            p = self.spans[i][3]
            if p is not None and p >= root:
                children.setdefault(p, []).append(i)
        out: dict[str, float] = {}
        stack = [root]
        while stack:
            i = stack.pop()
            name, s, e, _, _ = self.spans[i]
            kids = children.get(i, [])
            own = (e - s) - sum(self.spans[k][2] - self.spans[k][1] for k in kids)
            out[name] = out.get(name, 0.0) + own
            stack.extend(kids)
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for name, s, e, parent, rid in self.spans:
                fh.write(
                    json.dumps(
                        {"name": name, "start": s, "end": e, "parent": parent, "rid": rid}
                    )
                    + "\n"
                )


def instrument(tracer: Tracer) -> None:
    """Wrap the instrumented layers' public functions and rebind every
    reference that package modules hold to them (``from x import f``
    copies included), so calls made inside registry queries open spans
    too. Called once, after the registry is loaded."""
    import importlib
    import inspect

    originals: dict[int, object] = {}
    for layer, (modname, names) in INSTRUMENTED.items():
        mod = importlib.import_module(f"{PKG}.{modname}")
        if names is None:
            names = [
                n
                for n, f in vars(mod).items()
                if inspect.isfunction(f)
                and not n.startswith("_")
                and f.__module__ == mod.__name__
            ]
        for n in names:
            fn = getattr(mod, n)
            originals[id(fn)] = tracer.wrap(f"{layer}.{n}", fn)
    for mname, mod in list(sys.modules.items()):
        if not (mname == PKG or mname.startswith(PKG + ".")) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            wrapped = originals.get(id(val))
            if wrapped is not None:
                setattr(mod, attr, wrapped)


# --------------------------------------------------------------------------
# Spark status (public status tracker, AppStatusStore, QueryExecution)
# --------------------------------------------------------------------------

EXEC_KEYS = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.run_s",
    "exec.cpu_s",
    "exec.shuffle_read_mb",
    "exec.shuffle_write_mb",
    "exec.input_mb",
    "exec.gc_ms",
)


class SparkStatus:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def job_ids(self) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(None))

    def jobs_since(self, before: set[int]) -> list[int]:
        return sorted(set(self.job_ids()) - before)

    def drain(self) -> None:
        """Wait until the listener bus has applied every event posted so
        far, so the status store holds the last stage's task metrics."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def submitted_ms(self, job: int) -> float | None:
        sub = self.store.job(job).submissionTime()
        return float(sub.get().getTime()) if sub.isDefined() else None

    def exec_delta(self, jobs: list[int]) -> dict[str, float]:
        """Execution totals of the given jobs' stages."""
        from py4j.protocol import Py4JJavaError

        out = dict.fromkeys(EXEC_KEYS, 0.0)
        out["exec.jobs"] = float(len(jobs))
        tracker = self.sc.statusTracker()
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            try:
                s = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stages have no attempt
                continue
            if s.numCompleteTasks() == 0:
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += s.numCompleteTasks()
            out["exec.run_s"] += s.executorRunTime() / 1e3
            out["exec.cpu_s"] += s.executorCpuTime() / 1e9
            out["exec.shuffle_read_mb"] += s.shuffleReadBytes() / 1e6
            out["exec.shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            out["exec.input_mb"] += s.inputBytes() / 1e6
            out["exec.gc_ms"] += s.jvmGcTime()
        return out

    @staticmethod
    def catalyst_ms(df) -> dict[str, float]:
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            out[f"catalyst.{ph}_ms"] = (
                float(opt.get().durationMs()) if opt.isDefined() else 0.0
            )
        return out

    def python_worker_s(self) -> float:
        """Cumulative UDF time from PySpark's perf profiler (set only
        in the traced run)."""
        coll = getattr(self.spark, "_profiler_collector", None)
        if coll is None:
            return 0.0
        return sum(s.total_tt for s in coll._perf_profile_results.values())


def host_probe(spark) -> float:
    """Min-of-3 CPU probe sized to defaultParallelism: one partition of
    2**22 rows per core. A drift diagnostic only."""
    from pyspark.sql import functions as F

    parts = spark.sparkContext.defaultParallelism
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, parts << 22, 1, parts).agg(
            F.bit_xor(F.xxhash64("id"))
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def files_under(path: str) -> dict[str, int]:
    """Size of every file under ``path``, by path."""
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            f = os.path.join(dirpath, n)
            try:
                out[f] = os.path.getsize(f)
            except OSError:
                continue
    return out


def bytes_written(before: dict[str, int], after: dict[str, int]) -> int:
    """Bytes of the files that are new or changed size between two
    ``files_under`` snapshots."""
    return sum(n for f, n in after.items() if before.get(f) != n)


# --------------------------------------------------------------------------
# process-tree RSS
# --------------------------------------------------------------------------


def _tree_rss_kb(root: int) -> int:
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    kids: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{d}/statm") as fh:
                pages = int(fh.read().split()[1])
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages * page_kb
    total, stack = 0, [root]
    while stack:
        p = stack.pop()
        total += rss.get(p, 0)
        stack.extend(kids.get(p, []))
    return total


class RssSampler:
    """Peak RSS of this process and all its descendants (the JVM and
    the Python workers), sampled every ``period`` seconds."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)


# --------------------------------------------------------------------------
# output check
# --------------------------------------------------------------------------


def _canon(v) -> str:
    import numpy as np

    if v is None:
        return "None"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "None"
        r = round(f, 6)
        return str(int(r)) if r == int(r) and abs(r) < 2**53 else repr(r)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "to_pydatetime"):
        return _canon(v.to_pydatetime())
    return str(v)


# Aggregates are rounded to 6 decimals on both sides; one side's float
# noise can still land on the other side of a rounding boundary, which
# shows as a difference of one unit in the 6th decimal.
FLOAT_TOL = 2e-6


def _cell(v):
    """Sort/compare key of one top-level value: floats stay numbers
    (compared with FLOAT_TOL), everything else is canonical text."""
    import numpy as np

    if isinstance(v, (float, np.floating, decimal.Decimal)) and not math.isnan(float(v)):
        return (1, float(v))
    return (0, _canon(v))


def result_digest(columns: list[str], rows) -> tuple:
    """(row count, sorted column names, rows in a canonical order):
    what the output check compares, independent of row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    keyed = sorted(tuple(_cell(row[i]) for i in order) for row in rows)
    return len(keyed), tuple(sorted(columns)), keyed


def same_result(a: tuple, b: tuple) -> bool:
    if a[0] != b[0] or a[1] != b[1]:
        return False
    for ra, rb in zip(a[2], b[2]):
        for (ka, va), (kb, vb) in zip(ra, rb):
            if ka != kb:
                return False
            if ka == 1:
                if not math.isclose(va, vb, rel_tol=1e-9, abs_tol=FLOAT_TOL):
                    return False
            elif va != vb:
                return False
    return True


def duckdb_digest(con, sql: str) -> tuple:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return result_digest(cols, cur.fetchall())


def duckdb_conn(table_dir: str):
    import duckdb

    con = duckdb.connect(config={"memory_limit": "2GB", "threads": 4})
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(table_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{table_dir}/{f}'"
            )
    return con


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(xs) -> float:
    return statistics.median(xs) if xs else float("nan")


# --------------------------------------------------------------------------
# run summaries
# --------------------------------------------------------------------------

PER_OP_LAYERS = (
    "io.read_table_s",
    "io.read_table_calls",
    "io.read_jobs",
    "build_s",
    "build_jobs",
    "catalyst.analysis_ms",
    "catalyst.optimization_ms",
    "catalyst.planning_ms",
) + EXEC_KEYS + (
    "exec.python_worker_s",
    "collect_s",
    "io.bytes_written_mb",
    "streaming.state_bytes_written_mb",
)


def input_rows(table_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        f[:-8]: pq.ParquetFile(os.path.join(table_dir, f)).metadata.num_rows
        for f in sorted(os.listdir(table_dir))
        if f.endswith(".parquet")
    }


def per_kind_p50(records) -> dict[str, float]:
    kinds: dict[str, list[float]] = {}
    for r in records:
        if r["ok"]:
            kinds.setdefault(r["kind"], []).append(r["wall"])
    return {k: median(v) for k, v in sorted(kinds.items())}


def _traced(records):
    return [r for r in records if r["ok"] and "layers" in r]


def layer_metrics(traced, get_spark_s, registry_s) -> dict[str, float]:
    """Per-operation means of the traced window's layer counters, and
    the set-up layers."""
    recs = _traced(traced)
    n = max(len(recs), 1)
    out = {"session.get_spark_s": get_spark_s, "registry.load_s": registry_s}
    for k in PER_OP_LAYERS:
        out[k] = sum(r["layers"].get(k, 0.0) for r in recs) / n
    out["collect_rows"] = sum(len(r.get("rows") or ()) for r in recs) / n
    out["residual_s"] = sum(r["layers"].get("self.residual", 0.0) for r in recs) / n
    return out


def self_time_by_span(traced) -> dict[str, float]:
    """Mean self time per operation by span name; with the residual
    they add up to the mean operation time."""
    recs = _traced(traced)
    out: dict[str, float] = {}
    for r in recs:
        for k, v in r["layers"].items():
            if k.startswith("self."):
                out[k[5:]] = out.get(k[5:], 0.0) + v / len(recs)
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def sum_check(traced) -> float:
    """Largest relative gap, over traced operations, between the sum
    of all self times (residual included) and the operation's wall."""
    worst = 0.0
    for r in _traced(traced):
        total = sum(v for k, v in r["layers"].items() if k.startswith("self."))
        worst = max(worst, abs(total - r["wall"]) / r["wall"])
    return worst
