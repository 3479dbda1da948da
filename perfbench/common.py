"""Pieces the workloads share: the run context, the result record, the
streaming query around an applier, probes of single layers, and the
per-layer metric rollup from the traced run."""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import gen
from harness import median

# Every per-layer metric, in BENCHMARK.json order, with its unit. A
# workload that does not run a layer reports it as 0 (not exercised).
LAYER_UNITS = {
    "sources.cdc_datasource.latest_offset_ms.p50": "ms",
    "sources.cdc_datasource.decode_passes": "ratio",
    "sources.cdc_datasource.decode_events_per_s": "1/s",
    "sources.cdc_datasource.append_txn_us.p50": "us",
    "streaming.wal_commit_ms.p50": "ms",
    "streaming.commit_offsets_ms.p50": "ms",
    "streaming.query_planning_ms.p50": "ms",
    "streaming.batch_rows.p50": "count",
    "streaming.applier.apply_batch_ms.p50": "ms",
    "streaming.applier.stats_ms.p50": "ms",
    "streaming.applier.jobs_per_batch": "count",
    "streaming.applier.tasks_per_batch": "count",
    "store.snapshot.merge_ms.p50": "ms",
    "store.snapshot.merge_jobs": "count",
    "store.snapshot.touched_bucket_frac": "ratio",
    "store.snapshot.bytes_written_per_row": "B/row",
    "store.snapshot.files_per_version": "count",
    "store.snapshot.lookup_jobs": "count",
    "operators.filters.selectivity": "ratio",
    "operators.filters.overhead_ratio": "ratio",
    "operators.compaction.latest_by_key_ms": "ms",
    "operators.compaction.reduction": "ratio",
    "operators.bootstrap.jobs": "count",
    "operators.bootstrap.tasks": "count",
    "serve.stream_jobs": "count",
    "serve.rows_per_page": "count",
    "generator.late_ms.p99": "ms",
    "generator.backlog_end_txns": "count",
    "trace.overhead_ratio": "ratio",
}


@dataclass
class Ctx:
    session: object  # Future of the SparkSession, started at process start
    work: str
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    t_start: float  # perf_counter at process start
    marks: list = field(default_factory=list)  # (label, seconds since start)

    @property
    def spark(self):
        if not self.session.done():
            self.mark("inputs")
            self.session.result()
            self.mark("session")
        return self.session.result()

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def mark(self, label: str) -> float:
        """Record a set-up phase boundary; returns seconds since start."""
        s = time.perf_counter() - self.t_start
        self.marks.append((label, s))
        return s

    def setup_note(self) -> str:
        prev, parts = 0.0, []
        for label, s in self.marks:
            parts.append(f"{label}={s - prev:.2f}s")
            prev = s
        return "  setup: " + " ".join(parts)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    setup_s: float = 0.0
    e2e: dict = field(default_factory=dict)     # name -> value (units in run.py)
    layers: dict = field(default_factory=dict)  # name -> value
    notes: list = field(default_factory=list)

    def mismatch(self, what: str, detail: str = "") -> None:
        self.correct = False
        self.notes.append(f"MISMATCH {what} {detail}".rstrip())


def read_rows(spark, path: str):
    from databus_spark.sources.cdc_datasource import CDC_SCHEMA_DDL

    return spark.read.schema(CDC_SCHEMA_DDL).parquet(path)


STATE_COLS = ("source", "key_str", "scn", "opcode", "source_id", "part_id", "key_num", "payload")


def fingerprint(df) -> tuple:
    """Order-free digest of a state: (rows, xor of row hashes, sum of scn).
    Any added, missing or changed row changes it."""
    from pyspark.sql import functions as F

    r = df.select(F.xxhash64(*STATE_COLS).alias("h"), "scn").agg(
        F.count(F.lit(1)), F.bit_xor("h"), F.sum("scn")
    ).collect()[0]
    return tuple(r)


def start_stream(spark, trail: str, applier, ckpt: str):
    """A continuously running ``databus_cdc`` query feeding ``applier``."""
    stream = (
        spark.readStream.format("databus_cdc")
        .option("path", trail)
        .option("parts", str(gen.N_PARTS))
        .load()
    )
    return (
        stream.writeStream.foreachBatch(applier.apply_batch)
        .option("checkpointLocation", ckpt)
        .start()
    )


# -- probes of single layers -----------------------------------------------------
def timed_noop(df) -> float:
    """Seconds to evaluate every column of ``df`` (noop sink)."""
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def compaction_probe(df, reps: int = 3) -> tuple[float, float]:
    """(median ms of latest_by_key over df, rows out / rows in)."""
    from databus_spark.operators.compaction import latest_by_key

    ms = median([timed_noop(latest_by_key(df)) * 1e3 for _ in range(reps)])
    return ms, latest_by_key(df).count() / max(1, df.count())


def filter_probe(df, pred, reps: int = 3) -> tuple[float, float]:
    """(selectivity, filtered / unfiltered staged-scan time)."""
    full = median([timed_noop(df) for _ in range(reps)])
    filt = median([timed_noop(df.where(pred)) for _ in range(reps)])
    return df.where(pred).count() / max(1, df.count()), filt / full


def decode_probe(trail: str, end_scn: int, reps: int = 3) -> float:
    """Events per second of one traced, single-thread direct call of
    ``CdcBinlogStreamReader.read`` over partition 0 of the whole trail."""
    from databus_spark.sources.cdc_datasource import BinlogPartition, CdcBinlogStreamReader

    reader = CdcBinlogStreamReader({"path": trail, "parts": str(gen.N_PARTS)})
    rates = []
    for _ in range(reps):
        part = BinlogPartition(0, -1, end_scn, trail, gen.N_PARTS)
        t = time.perf_counter()
        n = sum(1 for _ in reader.read(part))
        rates.append(n / (time.perf_counter() - t))
    return median(rates)


# -- per-layer rollup ---------------------------------------------------------------
def _offset_range(p: dict) -> tuple[int, int]:
    src = p["sources"][0]
    start, end = src.get("startOffset"), src.get("endOffset")
    start = json.loads(start) if isinstance(start, str) else (start or {})
    end = json.loads(end) if isinstance(end, str) else (end or {})
    lo = min((int(v) for v in start.values()), default=-1)
    hi = max((int(v) for v in end.values()), default=-1)
    return lo, hi


def streaming_layers(tracer, listener, events_in) -> dict:
    """Per-layer metrics of the traced micro-batches. ``events_in(lo, hi)``
    counts trail events with lo < scn <= hi (the source's output rows)."""
    tracer.resolve_jobs()
    listener.to_spans(tracer)
    kids = tracer.children()
    applies = {s.req: s for s in tracer.named("streaming.applier.apply_batch")}
    progs = [p for p in listener.batches() if p["batchId"] in applies]
    merges = [s for s in tracer.named("store.snapshot.merge") if s.parent in
              {a.id for a in applies.values()}]
    def dur(phase):
        return [p["durationMs"].get(phase, 0) for p in progs]

    out = {}
    out["sources.cdc_datasource.latest_offset_ms.p50"] = median(dur("latestOffset"))
    decoded = sum(p.get("numInputRows", 0) for p in progs)
    source_rows = sum(events_in(*_offset_range(p)) for p in progs)
    out["sources.cdc_datasource.decode_passes"] = decoded / max(1, source_rows)
    out["streaming.wal_commit_ms.p50"] = median(dur("walCommit"))
    out["streaming.commit_offsets_ms.p50"] = median(dur("commitOffsets"))
    out["streaming.query_planning_ms.p50"] = median(dur("queryPlanning"))
    a = list(applies.values())
    out["streaming.batch_rows.p50"] = median([s.attrs.get("rows", 0) for s in a])
    out["streaming.applier.apply_batch_ms.p50"] = median([s.ms for s in a])
    out["streaming.applier.stats_ms.p50"] = median([tracer.self_ms(s, kids) for s in a])
    out["streaming.applier.jobs_per_batch"] = median([s.attrs["jobs"] for s in a])
    out["streaming.applier.tasks_per_batch"] = median([s.attrs["tasks"] for s in a])
    out.update(merge_layers(merges))
    applied = sum(s.attrs.get("rows", 0) for s in a)
    out["operators.filters.selectivity"] = applied / max(1, source_rows)
    return out


def merge_layers(merges) -> dict:
    rows = sum(m.attrs.get("rows") or 0 for m in merges)
    return {
        "store.snapshot.merge_ms.p50": median([m.ms for m in merges]),
        "store.snapshot.merge_jobs": median([m.attrs["jobs"] for m in merges]),
        "store.snapshot.touched_bucket_frac": median([m.attrs["touched_frac"] for m in merges]),
        "store.snapshot.bytes_written_per_row": sum(m.attrs["new_bytes"] for m in merges)
        / max(1, rows),
    }


def finish_layers(res: Result, layers: dict) -> None:
    """Fill layers the workload does not run with 0 and check names."""
    unknown = set(layers) - set(LAYER_UNITS)
    if unknown:
        raise KeyError(f"unknown layer metrics {sorted(unknown)}")
    res.layers = {name: float(layers.get(name, 0.0)) for name in LAYER_UNITS}
    nan = [k for k, v in res.layers.items() if v != v]
    if nan:
        raise ValueError(f"layer metrics without samples: {nan}")
