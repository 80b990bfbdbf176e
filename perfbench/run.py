#!/usr/bin/env python3
"""Workload benchmark for mcyj_datapipeline_spark.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Runs one workload in one process on ``local[nproc]`` with one client:
set-up (session start, registry import, workload inputs), an untimed
warm-up, then operations until ``--seconds`` have passed. Outside the
timed window every operation's output is checked against its DuckDB
twin (row count, columns and values, independent of row order). The last stdout
line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``; the per-layer
metrics with ``--trace 1``). Run details go to stderr and to
``.perfbench_work/results/``.

``--trace 1`` wraps the package's layer entry points in spans before
the timed window and prints per-layer metrics instead; its end-to-end
figures go to the result file, and the tracing overhead is the traced
run's end-to-end figures minus those of an untraced run of the same
seed.

``--smoke`` uses tables of sf0.001 size; it is for the benchmark's
tests, not for measurement. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "2g"

E2E = ("setup_s", "latency_p50_s", "items_per_s", "rss_peak_mb")
UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "items_per_s": "1/s",
    "rss_peak_mb": "MB",
}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.load_s": "s",
    "io.read_table_s": "s",
    "io.read_table_calls": "count",
    "io.read_jobs": "count",
    "build_s": "s",
    "build_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.input_mb": "MB",
    "collect_s": "s",
    "collect_rows": "count",
    "io.bytes_written_mb": "MB",
    "streaming.state_bytes_written_mb": "MB",
    "residual_s": "s",
    "host.probe_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


class Runner:
    """Runs operations and, in the traced window, records their spans
    and Spark status deltas."""

    def __init__(self, harness):
        self.H = harness
        self.tracer = harness.Tracer(False)
        self.status = None  # SparkStatus, set for the traced window
        self.prof_total = 0.0

    def run_op(self, op, traced: bool) -> dict:
        """Time one operation: construction, then collect (if the op
        yields a DataFrame). Errors are recorded, never raised. In the
        traced run the status and file reads happen outside the timed
        span."""
        tr = self.tracer
        rec = {"kind": op.kind, "key": op.key, "docs": op.docs, "op": op}
        if traced:
            tr.rid = op.key
            before_jobs = set(self.status.job_ids())
            before_files = self.H.files_under(op.writes[1]) if op.writes else None
            root = len(tr.spans)
        df = None
        t0 = time.perf_counter()
        try:
            with tr.span("op"):
                with tr.span("build"):
                    df = op.build()
                if df is not None:
                    with tr.span("collect"):
                        rec["rows"] = df.collect()
            rec["ok"] = True
        except Exception:  # an op failure is counted, not fatal
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=3)
        rec["wall"] = time.perf_counter() - t0
        if not rec["ok"]:
            log(f"# op {op.key} failed:\n{rec['error']}")
        elif df is not None:
            rec["columns"] = df.columns
        if traced and rec["ok"]:
            rec["layers"] = self._layers(root, df, before_jobs)
            if op.writes:
                after = self.H.files_under(op.writes[1])
                rec["layers"][op.writes[0]] = self.H.bytes_written(before_files, after) / 1e6
        return rec

    def _layers(self, root, df, before_jobs) -> dict:
        tr = self.tracer
        spans = tr.spans[root:]
        selft = tr.self_times(root)
        # time in no package-layer span and outside the collect: the
        # registry's and the benchmark's own DataFrame construction
        selft["residual"] = selft.pop("op", 0.0) + selft.pop("build", 0.0)
        out = {f"self.{name}": v for name, v in selft.items()}
        reads = [s for s in spans if s[0] == "io.read_table"]
        out["io.read_table_s"] = sum(s[2] - s[1] for s in reads)
        out["io.read_table_calls"] = float(len(reads))
        self.status.drain()
        jobs = self.status.jobs_since(before_jobs)
        build = next(s for s in spans if s[0] == "build")
        # jobs fired during construction (before the action), and those
        # inside read_table spans (the read-time schema inference),
        # counted by job submission time
        out["build_jobs"] = float(self._jobs_in(jobs, [build]))
        out["io.read_jobs"] = float(self._jobs_in(jobs, reads))
        out["build_s"] = build[2] - build[1]
        out["collect_s"] = sum(s[2] - s[1] for s in spans if s[0] == "collect")
        out.update(self.status.exec_delta(jobs))
        if df is not None:
            out.update(self.status.catalyst_ms(df))
        prof = self.status.python_worker_s()
        out["exec.python_worker_s"] = prof - self.prof_total
        self.prof_total = prof
        return out

    def _jobs_in(self, jobs, spans) -> int:
        """Jobs whose submission time falls inside any of ``spans``."""
        if not spans or not jobs:
            return 0
        # perf_counter and the JVM clock differ; map through wall time
        offset = time.time() - time.perf_counter()
        windows = [((s[1] + offset) * 1000, (s[2] + offset) * 1000) for s in spans]
        n = 0
        for j in jobs:
            t = self.status.submitted_ms(j)
            if t is not None:
                # submission times are whole milliseconds
                n += any(a - 1 <= t <= b for a, b in windows)
        return n

    def window(self, ops, seconds: float, traced: bool) -> tuple[list[dict], float]:
        recs = []
        t0 = time.perf_counter()
        for op in ops:
            recs.append(self.run_op(op, traced))
            if op.boundary and time.perf_counter() - t0 >= seconds:
                break
        return recs, time.perf_counter() - t0


def check(records, log_fn) -> tuple[int, int]:
    """Compare every executed op's output with its DuckDB twin (the
    twin runs once per distinct op key). Returns (attempted, failed)."""
    from perfbench.harness import result_digest, same_result

    oracle_cache: dict[str, tuple] = {}
    failed = 0
    for r in records:
        op = r["op"]
        if not r["ok"]:
            failed += 1
            continue
        if op.oracle is None:
            continue
        try:
            if op.key not in oracle_cache:
                oracle_cache[op.key] = op.oracle()
            want = oracle_cache[op.key]
            if op.digest is not None:
                got = op.digest(r.get("rows"))
            else:
                got = result_digest(r["columns"], r["rows"])
        except Exception:
            failed += 1
            log_fn(f"# check {op.key} raised:\n{traceback.format_exc(limit=3)}")
            continue
        if not same_result(got, want):
            failed += 1
            log_fn(f"# MISMATCH {op.key}: spark rows={got[0]} oracle rows={want[0]}")
    return len(records), failed


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import mcyj_datapipeline_spark  # noqa: F401
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        log(f"perfbench: cannot import the program under test: {exc}")
        return 2
    from perfbench import harness as H
    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}")
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = H.configure_env(ROOT, work, HEAP)
    rss = H.RssSampler()
    runner = Runner(H)
    spark = None
    try:
        data_dir = W.prepare_inputs(args.workload, os.path.join(base, "data"), args.smoke)
        rss.start()
        from mcyj_datapipeline_spark.session import get_spark

        extra = {}
        if args.trace:
            extra = {"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000"}
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
        t1 = time.perf_counter()
        from mcyj_datapipeline_spark import registry

        queries, oracles = registry.queries(), registry.oracle_sql()
        t2 = time.perf_counter()
        ctx = W.Ctx(spark, queries, oracles, data_dir, work, args.seed)
        wl = W.WORKLOADS[args.workload](ctx)
        reps = []
        for _ in range(max(wl.setup_reps, 1)):
            s = time.perf_counter()
            wl.setup_once()
            reps.append(time.perf_counter() - s)
        workload_setup = H.median(reps) if wl.setup_reps else 0.0
        setup_s = (t1 - t0) + (t2 - t1) + workload_setup
        log(
            f"# setup: get_spark {t1 - t0:.2f}s registry {t2 - t1:.2f}s "
            f"workload {[round(x, 2) for x in reps]}"
        )

        tw = time.perf_counter()
        warm = [runner.run_op(op, False) for op in wl.warmup_ops()]
        cold_pass_s = time.perf_counter() - tw
        log(f"# warm-up: {len(warm)} ops in {cold_pass_s:.2f}s")

        layer = {}
        if args.trace:
            runner.status = H.SparkStatus(spark)
            layer["host.probe_s"] = H.host_probe(spark)
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            runner.tracer = H.Tracer(True)
            H.instrument(runner.tracer)
        recs, elapsed = runner.window(wl.ops(), args.seconds, traced=bool(args.trace))
        # the program's footprint: the DuckDB check below runs in this
        # process too and is not counted
        rss_peak_mb = rss.peak_kb / 1024.0
        tc = time.perf_counter()
        checks = [runner.run_op(op, False) for op in wl.final_checks()]
        attempted, failed = check(warm + recs + checks, log)
        log(f"# check: {attempted} ops, {failed} failed, {time.perf_counter() - tc:.2f}s")

        lat, items = wl.served([r for r in recs if r["ok"]])
        e2e = {
            "setup_s": setup_s,
            "latency_p50_s": H.median(lat),
            "items_per_s": items / elapsed,
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": host["cores"],
            "heap": host["heap"],
            "data_dir": os.path.relpath(data_dir, ROOT),
            "input_rows": H.input_rows(data_dir),
            "ops_timed": len(recs),
            "window_s": elapsed,
            "cold_pass_s": cold_pass_s,
            "setup_reps_s": reps,
            **({wl.setup_layer: workload_setup} if wl.setup_layer else {}),
            "get_spark_s": t1 - t0,
            "registry_s": t2 - t1,
            "per_kind_p50_s": H.per_kind_p50(recs),
            "workload_metrics": wl.summary([r for r in recs if r["ok"]], elapsed),
            "attempted": attempted,
            "failed": failed,
        }
        if args.trace:
            layer.update(H.layer_metrics(recs, t1 - t0, t2 - t1))
            detail["layers"] = layer
            detail["self_time_by_span_s"] = H.self_time_by_span(recs)
            detail["sum_check_max_rel_err"] = H.sum_check(recs)
    except Exception:
        log(f"perfbench: run failed:\n{traceback.format_exc()}")
        H.stop_spark(spark)
        rss.stop()
        return 1
    H.stop_spark(spark)
    rss.stop()
    e2e["rss_peak_mb"] = rss_peak_mb

    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    if args.trace:
        runner.tracer.dump(os.path.join(results, f"{stem}.spans.jsonl"))
    detail["e2e"] = e2e
    with open(os.path.join(results, f"{stem}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    log("# detail: " + json.dumps(detail, default=str))
    shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        metrics = {k: {"value": layer[k], "unit": LAYER_UNITS[k]} for k in LAYER_UNITS}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in E2E}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
