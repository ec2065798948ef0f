"""Shared plumbing for the benchmark workloads.

Session start and stop, the working directory inside the checkout, the
environment stamp, counters read from outside the program (Spark status
tracker, JVM management beans, ``/proc``), and latency statistics.
"""

from __future__ import annotations

import hashlib
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".bench_work"

# A run whose 1-minute load per core exceeds this at start is flagged:
# another tenant was busy and its figures are suspect.
LOAD_SUSPECT_PER_CORE = 0.5

# Percentiles tried for the tail, highest first.  The tail is the highest
# one with at least TAIL_MIN_BEYOND samples above it.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10

DRIVER_MEMORY = "3g"


class ProgramMissing(RuntimeError):
    """The program under test is not importable from the checkout."""


def require_program() -> None:
    """Import ``prometheus_spark`` from the checkout this file sits in.

    Refuses a copy found anywhere else, so a directory holding only the
    benchmark fails instead of measuring some other installation."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    try:
        import prometheus_spark
    except ImportError as e:
        raise ProgramMissing(f"prometheus_spark is not importable: {e}") from e
    where = Path(prometheus_spark.__file__).resolve()
    if ROOT not in where.parents:
        raise ProgramMissing(f"prometheus_spark found outside the checkout: {where}")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def work_dir(workload: str, seed: int, trace: bool) -> Path:
    """A fresh per-run directory under the checkout.  Spark's local dirs,
    the JVM and Python temp dirs, and every file a workload writes live
    here."""
    d = WORK_ROOT / f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
    shutil.rmtree(d, ignore_errors=True)
    tmp = d / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(tmp)
    return d


def start_session(work: Path, cores: int):
    """A SparkSession on ``local[cores]`` built by the program's own
    session factory, plus the settings the benchmark needs: no UI, no
    progress bars, all scratch files under ``work``, and a status
    tracker that keeps every job of a run.

    The JIT compiles hot code after a tenth of its usual invocation
    counts (``CompileThresholdScaling=0.1``).  A serving process runs long
    enough to reach compiled code anyway; with the default thresholds a
    one-minute run is still speeding up by a third while it measures,
    and with the lower ones the measured operations are near steady.
    The heap is fixed at its maximum from the start, as a serving JVM's
    usually is: a heap that grows on demand grows by how long GC pauses
    took, which varies with the load on the box, and moved the peak RSS
    by 20% between runs."""
    from prometheus_spark.session import build_session

    tmp = work / "tmp"
    # the launcher JVM spark-submit starts first writes no perf data or
    # temp files outside the checkout either
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        filter(None, (os.environ.get("SPARK_LAUNCHER_OPTS"),
                      f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"))
    )
    java_opts = (
        f"-Xms{DRIVER_MEMORY} -XX:CompileThresholdScaling=0.1 "
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "50000",
            "spark.sql.ui.retainedExecutions": "200",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# counters read from outside the program


def _proc_status_kb(pid: int, field: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


def _proc_cpu_s(pid: int) -> float:
    """utime + stime of a process, in seconds, from ``/proc/<pid>/stat``."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # fields[0] is the state (field 3); utime, stime are fields 14, 15
    ticks = int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


class Counters:
    """JVM GC time (GarbageCollectorMXBeans through py4j), JVM and driver
    CPU time, peak heap use (MemoryPoolMXBeans), and peak RSS of the driver
    and the JVM.

    The JVM's process CPU time comes from ``/proc/<jvm pid>/stat``: the
    OperatingSystemMXBean implementation class is not exported on Java 17,
    so py4j cannot call ``getProcessCpuTime`` on it."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._mf = jvm.java.lang.management.ManagementFactory
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def gc_ms(self) -> float:
        return float(
            sum(b.getCollectionTime() for b in self._mf.getGarbageCollectorMXBeans())
        )

    def _heap_pools(self):
        return [p for p in self._mf.getMemoryPoolMXBeans() if str(p.getType().name()) == "HEAP"]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum over the heap pools (eden, survivor, old) of each pool's
        peak use since :meth:`reset_heap_peak`.  The pools peak at
        different moments, so this bounds the heap's peak from above; it
        follows the program's allocation, which ``peak_rss_mb`` cannot see
        while the heap is fixed at its maximum."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20

    def jvm_cpu_s(self) -> float:
        return _proc_cpu_s(self.jvm_pid)

    @staticmethod
    def py_cpu_s() -> float:
        return time.process_time()

    def snapshot(self) -> dict:
        return {
            "gc_ms": self.gc_ms(),
            "jvm_cpu_s": self.jvm_cpu_s(),
            "py_cpu_s": self.py_cpu_s(),
        }

    def peak_rss_mb(self) -> float:
        """max(VmHWM of the driver Python, VmHWM of the JVM)."""
        kb = max(
            _proc_status_kb(os.getpid(), "VmHWM"),
            _proc_status_kb(self.jvm_pid, "VmHWM"),
        )
        return kb / 1024.0


class JobCounter:
    """Spark jobs, stages and tasks per operation: each operation runs
    under its own job group; the status tracker is read after the run."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.groups: list[str] = []

    def begin(self, group: str) -> None:
        self._sc.setJobGroup(group, group, interruptOnCancel=False)
        self.groups.append(group)

    def totals(self) -> dict:
        """{kind: {"ops", "jobs", "stages", "tasks"}} over every group
        begun, grouped by the kind prefix of the group name, plus "all"."""
        st = self._sc.statusTracker()
        out: dict[str, dict] = {}
        for g in self.groups:
            kind = g.rsplit("-", 1)[0]
            row = out.setdefault(kind, {"ops": 0, "jobs": 0, "stages": 0, "tasks": 0})
            row["ops"] += 1
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                row["jobs"] += 1
                for sid in info.stageIds:
                    sinfo = st.getStageInfo(sid)
                    if sinfo is None:
                        continue
                    row["stages"] += 1
                    row["tasks"] += sinfo.numCompletedTasks
        out["all"] = {
            k: sum(r[k] for r in list(out.values())) for k in ("ops", "jobs", "stages", "tasks")
        }
        return out


# ---------------------------------------------------------------------------
# environment stamp


def _git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def source_digest() -> str:
    """sha256 over the program's Python sources — identifies the code
    measured when the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = ROOT / "prometheus_spark"
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def env_stamp(spark, args) -> dict:
    load = os.getloadavg()
    cores = nproc()
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "nproc": cores,
        "loadavg_start": [round(x, 2) for x in load],
        "load_per_core_start": round(load[0] / cores, 3),
        "load_suspect": load[0] / cores > LOAD_SUSPECT_PER_CORE,
        "python": platform.python_version(),
        "spark": spark.version,
        "java": str(spark._jvm.java.lang.System.getProperty("java.version")),
        "git_commit": _git_commit(),
        "source_sha256": source_digest(),
    }


# ---------------------------------------------------------------------------
# statistics


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return math.nan
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ``TAIL_MIN_BEYOND`` samples
    beyond it.  With fewer than 2·TAIL_MIN_BEYOND samples no percentile
    qualifies; the median is reported and ``beyond`` says so."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        beyond = math.floor(round(n * (100.0 - p) / 100.0, 6))
        if beyond >= TAIL_MIN_BEYOND:
            return {"pct": p, "value": percentile(values, p), "beyond": beyond, "n": n}
    return {
        "pct": 50.0,
        "value": percentile(values, 50.0),
        "beyond": math.floor(n / 2),
        "n": n,
    }


def median(values: list[float]) -> float:
    return statistics.median(values) if values else math.nan
