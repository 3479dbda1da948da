"""Shared plumbing for the CDC-path benchmark: host hygiene, the Spark
session, percentile summaries, memory accounting and the result line.

Nothing here starts a process or touches the file system at import time;
``prepare_host`` is called once from ``run.py`` before pyspark is imported.
"""

from __future__ import annotations

import json
import math
import os
import resource
import shutil
import statistics
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def host_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


# The session factory defaults to 48g, which a small shared host cannot
# back. The benchmark's state is a few MB. The heap is fixed at 2g and
# touched at start (-Xms = -Xmx, AlwaysPreTouch). Otherwise the share of
# the heap that is resident depends on how the collector sizes the young
# generation, which it tunes from measured pause times, so peak RSS
# would follow the host's speed. With the heap resident, peak RSS moves
# with the JVM's native memory and the Python driver's memory.
DRIVER_MEMORY = "2g"


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def prepare_host() -> str:
    """Create this run's private work directory and point every scratch
    location (Python tempfile, Spark local dirs, JVM tmpdir) into it.
    Work directories of runs whose process is gone are wiped first, so
    stale state from a killed run cannot leak into this one."""
    os.makedirs(WORK_BASE, exist_ok=True)
    for name in os.listdir(WORK_BASE):
        if name.isdigit() and not _pid_alive(int(name)):
            shutil.rmtree(os.path.join(WORK_BASE, name), ignore_errors=True)
    work = os.path.join(WORK_BASE, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # DataSource readers run in Python workers started by the JVM; they
    # import databus_spark from the checkout, not from sys.path of this
    # process.
    py_path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + py_path if py_path else "")
    # every JVM (the launcher too) keeps its temp files and perf data
    # out of the shared /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work


def cleanup_host(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK_BASE)
    except OSError:
        pass


def start_session(work: str):
    from databus_spark.session import build_session

    return build_session(
        "perfbench",
        cpus=host_cpus(),
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            # the traced run counts jobs and tasks from the status store
            # at the end; keep every job of the run in it (both modes,
            # so traced and untraced sessions are configured alike)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )


# -- statistics ----------------------------------------------------------------
def median(xs) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def nearest_rank(sorted_xs, pct: float) -> float:
    k = max(1, math.ceil(pct / 100.0 * len(sorted_xs)))
    return float(sorted_xs[k - 1])


def tail(xs) -> tuple[float, float] | None:
    """The highest of p99.9/p99/p95/p90/p75 that leaves at least ten
    samples beyond it, as (percentile, value); None below 20 samples."""
    s = sorted(xs)
    for pct in (99.9, 99.0, 95.0, 90.0, 75.0):
        if len(s) * (1 - pct / 100.0) >= 10:
            return pct, nearest_rank(s, pct)
    return None


def describe(name: str, xs, unit: str) -> list[str]:
    """Human-readable lines for a timing: median, supported tail, count."""
    lines = [f"  {name}.p50 = {median(xs):.3f} {unit}  (n={len(xs)})"]
    t = tail(xs)
    if t is not None:
        lines.append(f"  {name}.p{t[0]:g} = {t[1]:.3f} {unit}  (n={len(xs)})")
    else:
        lines.append(f"  {name}: no percentile above p50 has 10 samples beyond it (n={len(xs)})")
    return lines


# -- host ----------------------------------------------------------------------
def cpu_ticks() -> list[int]:
    """The machine's aggregate CPU time counters from /proc/stat; empty
    where there are none."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_note(before: list[int], after: list[int]) -> str:
    """The share of CPU time the hypervisor gave to other guests between
    two ``cpu_ticks`` samples (the ``steal`` column). On a shared VM the
    timings drift with it from run to run (README.md)."""
    d = [b - a for a, b in zip(before, after)]
    if len(d) < 8 or sum(d) <= 0:
        return "  host steal in the window: unknown"
    return f"  host steal in the window: {100.0 * d[7] / sum(d):.1f}% of CPU time"


# -- memory --------------------------------------------------------------------
def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python driver."""
    jvm_pid = spark.sparkContext._gateway.proc.pid
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (_vm_hwm_kb(jvm_pid) + py_kb) / 1024.0


# -- output --------------------------------------------------------------------
def emit(correct: bool, attempted: int, failed: int, metrics: dict, notes: list[str]) -> None:
    """Print every metric by name with its unit, then the result line."""
    for line in notes:
        print(line)
    for name, m in metrics.items():
        print(f"metric {name} = {m['value']!r} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": metrics,
            }
        ),
        flush=True,
    )


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}
