"""CDC-path benchmark for databus_spark.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 15 --trace 0

Workloads (see perfbench/README.md): live_tail, bootstrap_serve. Run from the root of a checkout; the program is used
from source there. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` runs the traced variant and prints the per-layer metrics.
Every metric is printed as ``metric <name> = <value> <unit>``; the last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--smoke`` shrinks every
input for a quick functional check.

Exit status is 0 when a result was printed (correctness is reported in
the result, not by the exit status), non-zero when the run could not
complete.
"""

from __future__ import annotations

import argparse
import os
import signal
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T_START = time.perf_counter()

WORKLOADS = ("live_tail", "bootstrap_serve")

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_ms.p50": "ms",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for a functional check")
    a = ap.parse_args(argv)
    # on SIGTERM, unwind through the cleanup below: stop the generator,
    # the query and the JVM, and wipe the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import harness

    if not os.path.isdir(os.path.join(harness.ROOT, "databus_spark")):
        print(f"databus_spark not found next to {harness.HERE}; run from a checkout", file=sys.stderr)
        return 2
    work = harness.prepare_host()
    spark = None
    try:
        import importlib

        from common import LAYER_UNITS, Ctx

        module = importlib.import_module(a.workload)
        # the JVM starts while the workload generates its inputs
        pool = ThreadPoolExecutor(1)
        session = pool.submit(harness.start_session, work)
        ctx = Ctx(session, work, a.seed, a.seconds, bool(a.trace), a.smoke, T_START)
        try:
            res = module.run(ctx)
        finally:
            spark = session.result()
            pool.shutdown()
        if a.trace:
            metrics = {k: harness.metric(v, LAYER_UNITS[k]) for k, v in res.layers.items()}
        else:
            res.e2e["setup_s"] = res.setup_s
            metrics = {k: harness.metric(res.e2e[k], u) for k, u in E2E_UNITS.items()}
        bad = [k for k, m in metrics.items() if m["value"] != m["value"]]
        if bad:
            raise ValueError(f"metrics without a measured value: {bad}")
        res.notes.insert(
            0,
            f"workload={a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace} "
            f"cpus={harness.host_cpus()} driver_memory={os.environ['SPARK_DRIVER_MEMORY']}",
        )
        res.notes.append(
            f"correct={res.correct} attempted={res.attempted} failed={res.failed} "
            f"error_rate={res.failed / max(1, res.attempted):.4f}"
        )
        harness.emit(res.correct, res.attempted, res.failed, metrics, res.notes)
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            jvm = spark.sparkContext._gateway.proc
            spark.stop()
            # the gateway JVM exits when its stdin closes; wait for it
            jvm.stdin.close()
            jvm.wait(timeout=60)
        harness.cleanup_host(work)


if __name__ == "__main__":
    sys.exit(main())
