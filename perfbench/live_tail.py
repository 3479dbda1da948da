"""live_tail: open loop. A store preloaded with a large keyed state is fed
by a continuously running ``databus_cdc`` stream through a source +
partition subscription filter, while a separate generator process
appends transactions to the trail at a fixed rate.

Measured: commit-to-visible lag per transaction, from the generator's
due time to the ``on_checkpoint`` callback whose ``windowScn`` covers it.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

import gen
import harness
from common import (
    Result, compaction_probe, decode_probe, filter_probe, finish_layers, fingerprint,
    read_rows, start_stream, streaming_layers,
)
from harness import median

# Transactions per second offered by the generator. At 200/s a micro-batch
# carries about 1,000 subscribed rows, the batch size of an earlier
# prototype measurement. Batch time is mostly fixed per-batch cost: a
# tenfold rate moved the median batch interval by about 4% on a 4-vCPU
# host (see README.md), so the consumer keeps up with room to spare.
RATE = 200.0
# Preloaded keys, about the state size of that prototype (~38k).
N_KEYS = 40_000
# Set-up: the store is preloaded with one merge. Then WARM_TXNS
# transactions are on the trail when the stream and the generator start.
# The measured window opens after WARM_BATCHES micro-batches, the cold
# first one included, while the JVM compiles the hot paths. Batch time
# keeps falling for 15-20 batches (README.md). Warming by a count of
# batches rather than by a time gives every run the same compiled state
# at the window's start, so a slow host does not also measure a colder
# JVM.
WARM_TXNS = 25
WARM_BATCHES = 5
MAX_WARM_S = 90.0
# The generator starts this long after it is launched (its imports), and
# runs this long past the window's end, so that every transaction due in
# the window is appended on schedule before it is stopped.
GEN_LEAD_S = 1.5
GEN_TAIL_S = 0.1
# The run is invalid (counted failed) if the generator's p99 lateness in
# the window exceeds this: the offered load was then not the stated open
# loop.
GEN_LATE_BOUND_MS = 250.0
DRAIN_TIMEOUT_S = 60.0
SUB_SOURCES = (1, 2)       # source ids subscribed
SUB_PARTITIONS = (0, 1, 2)  # physical partitions subscribed


def subscribed(ev: dict) -> bool:
    return ev["source_id"] in SUB_SOURCES and ev["part_id"] in SUB_PARTITIONS


def subscription():
    from databus_spark.operators.filters import (
        conjunction, physical_partition_filter, source_filter,
    )

    return conjunction(source_filter(SUB_SOURCES), physical_partition_filter(SUB_PARTITIONS))


def run(ctx) -> Result:
    from databus_spark.operators.compaction import snapshot
    from databus_spark.sources.cdc_datasource import BinlogWriter, register
    from databus_spark.store.snapshot import ParquetSnapshotStore
    from databus_spark.streaming.applier import StreamingApplier
    from spans import PhaseListener, TracedApplier, TracedStore, Tracer

    res = Result()
    n_keys = 2_000 if ctx.smoke else N_KEYS
    warm_batches = 3 if ctx.smoke else WARM_BATCHES
    # the generator's schedule covers the longest set-up allowed; it is
    # stopped after the window, and only what it appended is expected
    n_max = int(RATE * (GEN_LEAD_S + MAX_WARM_S + ctx.seconds + GEN_TAIL_S + 5))

    # -- set-up: inputs, preload (billed to setup_s) --------------------------
    txns = gen.tail_txns(ctx.seed, n_keys, WARM_TXNS + n_max)
    preload = gen.preload_rows(ctx.seed, n_keys)
    gen.write_rows_parquet(preload, ctx.path("preload", "part-0.parquet"))
    spark = ctx.spark
    register(spark)
    tracer = Tracer(spark.sparkContext, enabled=False)
    listener = PhaseListener()
    if ctx.trace:
        store = TracedStore(spark, ctx.path("store"), tracer=tracer)
        spark.streams.addListener(listener)
    else:
        store = ParquetSnapshotStore(spark, ctx.path("store"))
    store.merge(read_rows(spark, ctx.path("preload")))
    ctx.mark("preload")

    visible: list[tuple[int, int]] = []  # (time_ns, windowScn)
    kw = {
        "subscription": subscription(),
        "on_checkpoint": lambda cp: visible.append((time.time_ns(), cp.windowScn)),
    }
    applier = TracedApplier(store, tracer, **kw) if ctx.trace else StreamingApplier(store, **kw)
    trail = ctx.path("trail")
    ckpt = ctx.path("ckpt")
    q = None
    proc = None
    restarts: list[str] = []

    def wait_until(cond, timeout_s: float) -> bool:
        """Poll ``cond``; restart the stream from its checkpoint if it
        died. The trail reader can fail on a transaction line that is
        being appended while it reads (see README.md); each restart counts
        as one failed operation."""
        nonlocal q
        deadline = time.time() + timeout_s
        while not cond():
            if time.time() >= deadline:
                return False
            if not q.isActive:
                lines = str(q.exception()).strip().splitlines()
                restarts.append(next((ln for ln in lines if "Error:" in ln), lines[0])[:300])
                q = start_stream(spark, trail, applier, ckpt)
            time.sleep(0.02)
        return True

    try:
        # -- open-loop generator and stream: warm-up, then the window --------
        gen.write_trail(BinlogWriter(trail), txns[:WARM_TXNS])
        stats_path = ctx.path("generator.json")
        t0_ns = time.time_ns() + int(GEN_LEAD_S * 1e9)
        period_ns = 1e9 / RATE
        proc = subprocess.Popen(
            [
                sys.executable, os.path.join(harness.HERE, "tail_generator.py"),
                "--trail", trail, "--seed", str(ctx.seed), "--keys", str(n_keys),
                "--first", str(WARM_TXNS), "--count", str(n_max), "--rate", str(RATE),
                "--t0-ns", str(t0_ns), "--out", stats_path,
            ]
        )
        q = start_stream(spark, trail, applier, ckpt)
        if not wait_until(lambda: len(visible) >= warm_batches, MAX_WARM_S):
            raise RuntimeError(f"fewer than {warm_batches} micro-batches in {MAX_WARM_S} s")
        # the window: the transactions due in the next ``seconds``
        n_warm = max(0, -(-(time.time_ns() - t0_ns) // int(period_ns)))
        n_meas = max(1, int(RATE * ctx.seconds))
        due = [t0_ns + int(i * period_ns) for i in range(n_warm + n_meas)]
        t_win_ns = due[n_warm]
        t_end_ns = t_win_ns + int(ctx.seconds * 1e9)
        res.setup_s = ctx.mark("warm")
        ticks0 = harness.cpu_ticks()
        rows_before = applier.rows_applied
        if ctx.trace:
            applier.tracing = True
        wait_until(lambda: time.time_ns() >= t_end_ns + GEN_TAIL_S * 1e9, ctx.seconds + 60)
        ticks1 = harness.cpu_ticks()
        proc.send_signal(signal.SIGTERM)
        rc = proc.wait(timeout=30)
        if rc != 0:
            raise RuntimeError(f"generator exited with {rc}")
        with open(stats_path) as f:
            gstats = json.load(f)
        n_appended = len(gstats["late_ms"])
        if n_appended < n_warm + n_meas:
            raise RuntimeError(f"generator appended {n_appended} < {n_warm + n_meas} transactions")
        appended = txns[:WARM_TXNS + n_appended]
        meas = txns[WARM_TXNS + n_warm:WARM_TXNS + n_warm + n_meas]
        due = due[n_warm:]
        matched = [i for i, t in enumerate(meas) if any(subscribed(e) for e in t.events)]
        last_scn = max((t.scn for t in appended if any(subscribed(e) for e in t.events)), default=0)
        wait_until(lambda: visible and visible[-1][1] >= last_scn, DRAIN_TIMEOUT_S)
        t_drained_ns = time.time_ns()
        if ctx.trace:
            applier.tracing = False
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        if q is not None:
            q.stop()
            q.awaitTermination(60)

    # -- lag samples ------------------------------------------------------------
    lags = []
    j = 0
    for i in matched:
        scn = meas[i].scn
        while j < len(visible) and visible[j][1] < scn:
            j += 1
        if j == len(visible):
            break
        lags.append((visible[j][0] - due[i]) / 1e6)
    missing = len(matched) - len(lags)
    backlog = sum(
        1 for i in matched
        if not any(t <= t_end_ns and s >= meas[i].scn for t, s in visible)
    )
    late_p99 = harness.nearest_rank(sorted(gstats["late_ms"][n_warm:n_warm + n_meas]), 99)

    res.attempted = max(1, len(matched))
    res.failed = missing + len(restarts)
    if missing:
        res.mismatch("live_tail", f"{missing} transactions never became visible")
    for err in restarts:
        res.notes.append(f"FAILED micro-batch; stream restarted from its checkpoint: {err}")
    if late_p99 > GEN_LATE_BOUND_MS:
        res.failed = res.attempted
        res.notes.append(
            f"INVALID generator p99 lateness {late_p99:.1f} ms > {GEN_LATE_BOUND_MS} ms"
        )

    # -- correctness: final state == compaction.snapshot(generated events) ----
    gen.write_rows_parquet(
        preload + gen.txn_rows(appended, keep=subscribed), ctx.path("expected", "part-0.parquet")
    )
    want = fingerprint(snapshot(read_rows(spark, ctx.path("expected"))))
    got = fingerprint(store.read())
    if got != want:
        res.failed = res.attempted
        res.mismatch("live_tail final state", f"fingerprint {got} != {want}")

    rows = applier.rows_applied - rows_before
    res.e2e["latency_ms.p50"] = median(lags)
    res.e2e["peak_rss_mb"] = harness.peak_rss_mb(spark)
    res.notes += ["live_tail: commit-to-visible lag (due time -> covering on_checkpoint)"]
    res.notes += [ctx.setup_note()]
    res.notes += harness.describe("visible_lag_ms", lags, "ms")
    res.notes += [harness.steal_note(ticks0, ticks1)]
    for label, lo, hi in (("warm-up", 0, t_win_ns), ("window", t_win_ns, t_drained_ns)):
        ts = [t for t, _ in visible if lo <= t <= hi]
        res.notes += [
            f"  batch intervals in the {label} (ms): "
            + " ".join(f"{(b - a) / 1e6:.0f}" for a, b in zip(ts, ts[1:]))
        ]
    res.notes += [
        f"  transactions={len(meas)} subscribed={len(matched)} batches={len(visible)} "
        f"rows_applied={rows} rows_per_s={rows / ((t_drained_ns - t_win_ns) / 1e9):.1f} "
        f"generator_late_p99={late_p99:.2f} ms backlog_end={backlog}"
    ]

    if ctx.trace:
        scns = [t.scn for t in appended]
        counts = [len(t.events) for t in appended]

        def events_in(lo, hi):
            return sum(c for s, c in zip(scns, counts) if lo < s <= hi)

        layers = streaming_layers(tracer, listener, events_in)
        gen.write_rows_parquet(gen.txn_rows(appended), ctx.path("events", "part-0.parquet"))
        stream_df = read_rows(spark, ctx.path("events"))
        layers["operators.filters.overhead_ratio"] = filter_probe(stream_df, subscription())[1]
        layers["operators.compaction.latest_by_key_ms"], layers["operators.compaction.reduction"] = (
            compaction_probe(stream_df)
        )
        layers["sources.cdc_datasource.decode_events_per_s"] = decode_probe(trail, appended[-1].scn)
        layers["sources.cdc_datasource.append_txn_us.p50"] = median(gstats["append_us"][n_warm:n_warm + n_meas])
        layers["store.snapshot.files_per_version"] = store.files_in_current_version()
        layers["generator.late_ms.p99"] = late_p99
        layers["generator.backlog_end_txns"] = backlog
        # interleaved micro-batches of the window: traced ÷ untraced trigger
        # time (a batch cut short by the query's stop has no progress report)
        trigger_ms = {p["batchId"]: p["durationMs"]["triggerExecution"] for p in listener.batches()}

        def trigger_p50(traced: bool) -> float:
            return median([trigger_ms[e] for e in applier.epochs[traced] if e in trigger_ms])

        layers["trace.overhead_ratio"] = trigger_p50(True) / trigger_p50(False)
        finish_layers(res, layers)
        tracer.dump(os.path.join(harness.OUT_DIR, f"live_tail-seed{ctx.seed}-spans.jsonl"))
    return res
