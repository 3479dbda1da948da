"""Open-loop load generator for the live_tail workload.

Runs as its own single-threaded process, separate from the consumer, and
never waits on it: transaction i is due at ``t0 + i / rate`` and is
appended to the binlog trail through ``BinlogWriter.append_txn`` as soon
as it is due. The trail line carries the due time as its ``ts_ms``. It
stops after ``--count`` transactions or at SIGTERM, whichever comes
first, after finishing the append in progress. The generator records,
per transaction, how late the append completed and how long
``append_txn`` took, and writes them as JSON when it ends.

    python3 perfbench/tail_generator.py --trail DIR --seed N --keys K \
        --first I --count C --rate R --t0-ns T --out stats.json
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import signal
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trail", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--keys", type=int, required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--t0-ns", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, os.path.dirname(here)]
    import gen
    from databus_spark.sources.cdc_datasource import BinlogWriter

    stop = []
    signal.signal(signal.SIGTERM, lambda *_: stop.append(True))
    txns = itertools.islice(gen.iter_tail_txns(a.seed, a.keys), a.first, a.first + a.count)
    writer = BinlogWriter(a.trail)
    period_ns = 1e9 / a.rate
    late_ms, append_us = [], []
    for i, t in enumerate(txns):
        due = a.t0_ns + int(i * period_ns)
        wait = due - time.time_ns()
        if wait > 0:
            time.sleep(wait / 1e9)
        if stop:
            break
        s = time.perf_counter()
        writer.append_txn(t.scn, due // 1_000_000, list(t.events))
        append_us.append((time.perf_counter() - s) * 1e6)
        late_ms.append((time.time_ns() - due) / 1e6)
    with open(a.out + ".tmp", "w") as f:
        json.dump({"late_ms": late_ms, "append_us": append_us}, f)
    os.replace(a.out + ".tmp", a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
