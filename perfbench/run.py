"""Run one benchmark workload of prometheus_spark.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run starts a Spark session on
``local[nproc]``, generates the workload's inputs from ``--seed``, sets
up (several times; the median is reported), warms up, then drives the
program in a closed loop for ``--seconds`` seconds, checking every
answer.  The last line of standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run is instrumented (see ``tracer.py``) and the metrics
are the per-layer ones.  The line before it holds the environment stamp
and the detailed figures, which are also written, with the spans of a
traced run, under ``.bench_work/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import common  # noqa: E402
from tracer import ROOT_SPAN, Tracer, layer_table, nesting_report  # noqa: E402

SETUP_REPS = 2
MAX_ERRORS_KEPT = 5


class _Op:
    ms = 0.0


class Recorder:
    """Latencies per operation kind, attempted/failed counts, work done."""

    def __init__(self, tracer: Tracer, jobs: common.JobCounter | None):
        self.tracer = tracer
        self.jobs = jobs
        self.lat_ms: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.work = 0.0
        self.errors: list[str] = []

    @contextlib.contextmanager
    def op(self, kind: str):
        """Time one operation of ``kind`` under its own job group and root
        span; the yielded object holds the latency afterwards.  An
        exception inside propagates to the loop, which counts the
        operation as failed."""
        self.attempted += 1
        n = self.attempted
        if self.jobs is not None:
            self.jobs.begin(f"{kind}-{n}")
        o = _Op()
        t0 = time.perf_counter()
        with self.tracer.span(ROOT_SPAN, kind=kind, request=n):
            yield o
        o.ms = (time.perf_counter() - t0) * 1000.0
        self.record(kind, o.ms)

    def record(self, kind: str, ms: float) -> None:
        self.lat_ms[kind].append(ms)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.fail(what)
        return ok

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < MAX_ERRORS_KEPT:
            self.errors.append(what)

    def add_work(self, n: float) -> None:
        self.work += n


def measure(wl, rec: Recorder, seconds: float) -> float:
    """Closed loop, one client: the next operation starts when the previous
    one returns, until ``seconds`` have passed; the operation running at
    the deadline finishes.  Returns the measured wall time."""
    t0 = time.perf_counter()
    deadline = t0 + seconds
    i = 0
    while time.perf_counter() < deadline:
        try:
            wl.op(rec, i)
        except Exception:  # noqa: BLE001 - one failed operation, keep going
            rec.fail(traceback.format_exc(limit=3))
        i += 1
    return time.perf_counter() - t0


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def run(args, workload_cls) -> tuple[dict, dict]:
    cores = common.nproc()
    work = common.work_dir(args.workload, args.seed, bool(args.trace))
    t0 = time.perf_counter()
    spark = common.start_session(work, cores)
    session_s = time.perf_counter() - t0
    try:
        env = common.env_stamp(spark, args)
        counters = common.Counters(spark)
        tracer = Tracer(bool(args.trace))
        jobs = common.JobCounter(spark) if args.trace else None
        wl = workload_cls(spark, args.seed, work, tracer)

        prepare_s = []
        for rep in range(SETUP_REPS):
            if rep:
                wl.release()
            t = time.perf_counter()
            wl.prepare()
            prepare_s.append(time.perf_counter() - t)
        warm = Recorder(Tracer(False), None)
        t = time.perf_counter()
        wl.warmup(warm)
        warmup_s = time.perf_counter() - t
        setup_s = session_s + common.median(prepare_s) + warmup_s
        log(f"session {session_s:.1f} s, prepare {[round(x, 1) for x in prepare_s]} s, "
            f"warm-up {warmup_s:.1f} s")

        tracer.install(spark)
        rec = Recorder(tracer, jobs)
        counters.reset_heap_peak()
        before = counters.snapshot()
        wall_s = measure(wl, rec, args.seconds)
        after = counters.snapshot()
        heap_peak_mb = counters.heap_peak_mb()
        tracer.uninstall()
        log(f"measured {wall_s:.1f} s, {rec.attempted} operations, {rec.failed} failed")

        lat = rec.lat_ms[wl.main_kind]
        detail = {
            "env": env,
            "setup": {
                "session_s": session_s,
                "prepare_s": prepare_s,
                "warmup_s": warmup_s,
            },
            "wall_s": wall_s,
            "heap_peak_mb": heap_peak_mb,
            "main_kind": wl.main_kind,
            "work_unit": wl.work_unit,
            "work": rec.work,
            "latency_ms": {
                k: {
                    "n": len(v),
                    "p50": common.median(v),
                    "tail": common.tail(v),
                    "samples": v,
                }
                for k, v in rec.lat_ms.items()
            },
            "errors": warm.errors + rec.errors,
            "warmup_ops": warm.attempted,
            "workload": wl.details(rec, wall_s),
        }
        if args.trace:
            metrics = traced_metrics(wl, rec, tracer, jobs, before, after, heap_peak_mb, detail)
            out = common.WORK_ROOT / "results"
            out.mkdir(parents=True, exist_ok=True)
            tracer.write(out / f"{args.workload}-s{args.seed}.spans.jsonl")
        else:
            metrics = {
                "setup_s": metric(setup_s, "s"),
                "op_p50_ms": metric(common.median(lat), "ms"),
                "work_per_s": metric(wl.throughput(rec, wall_s), "1/s"),
                "peak_rss_mb": metric(counters.peak_rss_mb(), "MB"),
            }
        env["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        wl.close()
        # warm-up operations are checked too and count here
        attempted = warm.attempted + rec.attempted
        failed = warm.failed + rec.failed
        summary = {
            "correct": failed == 0 and rec.attempted > 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        return summary, detail
    finally:
        t = time.perf_counter()
        common.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        log(f"teardown {time.perf_counter() - t:.1f} s")


def traced_metrics(wl, rec, tracer, jobs, before, after, heap_peak_mb, detail) -> dict:
    spans = tracer.spans()
    table = layer_table(spans)
    n_ops = max(1, rec.attempted)
    root = table.get(ROOT_SPAN, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0})
    op_wall = root["total_ms"]
    bench_self = root["self_ms"]
    layer_self = sum(r["self_ms"] for k, r in table.items() if k != ROOT_SPAN)
    n_spans = sum(r["calls"] for r in table.values())
    counts = jobs.totals()
    total = counts["all"]
    overhead = n_spans * tracer.span_cost_ms
    modules = {
        "jvm.gc_ms": after["gc_ms"] - before["gc_ms"],
        "jvm.cpu_s": after["jvm_cpu_s"] - before["jvm_cpu_s"],
        "driver.py_cpu_s": after["py_cpu_s"] - before["py_cpu_s"],
        **wl.layer_metrics(table, rec, tracer, counts),
    }
    detail["layers"] = {
        "table": table,
        "modules": modules,
        "nesting": nesting_report(spans),
        "traced_op_wall_ms": op_wall,
        "layer_self_ms": layer_self,
        "bench_self_ms": bench_self,
        "tracing_overhead_ms": overhead,
        "span_cost_ms": tracer.span_cost_ms,
        "spark": counts,
    }
    return {
        "jvm.gc_ms": metric(modules["jvm.gc_ms"], "ms"),
        "jvm.cpu_s": metric(modules["jvm.cpu_s"], "s"),
        "driver.py_cpu_s": metric(modules["driver.py_cpu_s"], "s"),
        "jvm.heap_peak_mb": metric(heap_peak_mb, "MB"),
        "spark.jobs_per_op": metric(total["jobs"] / n_ops, "count"),
        "spark.stages_per_op": metric(total["stages"] / n_ops, "count"),
        "spark.tasks_per_op": metric(total["tasks"] / n_ops, "count"),
        "trace.op_wall_ms": metric(op_wall / n_ops, "ms"),
        "trace.layer_self_ms_per_op": metric(layer_self / n_ops, "ms"),
        "trace.bench_self_ms_per_op": metric(bench_self / n_ops, "ms"),
        "trace.overhead_ms_per_op": metric(overhead / n_ops, "ms"),
        "trace.spans_per_op": metric(n_spans / n_ops, "count"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        common.require_program()
    except common.ProgramMissing as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    summary, detail = run(args, WORKLOADS[args.workload])
    out = common.WORK_ROOT / "results"
    out.mkdir(parents=True, exist_ok=True)
    record = {"summary": summary, "detail": detail}
    (out / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str)
    )
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
