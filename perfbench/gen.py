"""Seeded generators of change events for the CDC-path benchmark.

Every input of every workload comes from these functions and the run's
``--seed``: the same seed gives the same transactions, keys, payloads and
request parameters. No engine fixture (``envelope._staged``, ``registry``)
is used.

A key id ``k`` maps to one (source, key_str) pair, so keys never collide
across sources. Within one transaction a key appears at most once: SCNs
are the per-key order, and two events of one key sharing an SCN would
make "latest by key" ambiguous.
"""

from __future__ import annotations

import itertools
import json
import os
import random
from dataclasses import dataclass

SOURCES = ("orders", "customer", "lineitem")
N_PARTS = 4  # physical partitions; equals the reader's ``parts`` option
STATUSES = ("NEW", "PAID", "SHIPPED", "RETURNED", "CLOSED")
TS_BASE_MS = 1_700_000_000_000
# Key popularity exponent: YCSB's "zipfian" request distribution
# constant (Cooper et al., SoCC 2010), the standard skew for keyed
# serving benchmarks.
ZIPF_S = 0.99

# The CDC envelope as the stream delivers it (sources.cdc_datasource).
ROW_FIELDS = (
    "scn", "ts", "opcode", "source", "source_id", "part_id",
    "key_num", "key_str", "txn_end", "payload",
)


def key_fields(k: int) -> dict:
    mixed = (k * 2654435761) & 0xFFFFFFFF
    return {
        "source": SOURCES[k % 3],
        "source_id": k % 3 + 1,
        "part_id": (mixed >> 13) % N_PARTS,
        "key_num": k,
        "key_str": str(k),
    }


def narrow_payload(rng: random.Random, k: int, version: int) -> dict:
    return {
        "amount": round(rng.uniform(1, 10_000), 2),
        "status": rng.choice(STATUSES),
        "qty": rng.randint(1, 50),
        "ver": version,
        "ref": f"r{k:08d}",
    }


@dataclass(frozen=True)
class Txn:
    scn: int
    events: tuple  # of event dicts, trail format


def event(op: str, k: int, payload: dict | None) -> dict:
    ev = {"op": op, **key_fields(k)}
    ev["payload"] = payload
    return ev


def payload_json(payload: dict | None) -> str | None:
    """The payload string the CDC reader emits for a trail payload."""
    return None if payload is None else json.dumps(payload, sort_keys=True)


def ts_of(scn: int) -> int:
    return TS_BASE_MS + scn


# -- live_tail -----------------------------------------------------------------
class ZipfKeys:
    """Skewed draws over key ids 0..n-1. Popularity ranks are dealt
    round-robin over the (source, partition) classes in a fixed class
    order, so each class's share of the traffic, and with it a
    subscription's selectivity, is the same for every seed; which keys
    of a class are hot is seeded."""

    def __init__(self, rng: random.Random, n: int) -> None:
        by_class: dict[tuple, list[int]] = {}
        for k in range(n):
            f = key_fields(k)
            by_class.setdefault((f["source_id"], f["part_id"]), []).append(k)
        lists = [by_class[c] for c in sorted(by_class)]
        for ids in lists:
            rng.shuffle(ids)
        self.ids = [
            ids[i] for i in range(max(map(len, lists))) for ids in lists if i < len(ids)
        ]
        self.cum = list(itertools.accumulate(1.0 / (r**ZIPF_S) for r in range(1, n + 1)))
        self.rng = rng

    def draw(self) -> int:
        return self.rng.choices(self.ids, cum_weights=self.cum)[0]


def preload_rows(seed: int, n_keys: int) -> list[tuple]:
    """The live_tail store's initial state: one UPSERT per key, key k at
    scn k + 1, as rows of the CDC envelope."""
    rng = random.Random(seed * 7919 + 1)
    rows = []
    for k in range(n_keys):
        scn = k + 1
        f = key_fields(k)
        rows.append(
            (
                scn, ts_of(scn), "UPSERT", f["source"], f["source_id"], f["part_id"],
                k, f["key_str"], True, payload_json(narrow_payload(rng, k, 0)),
            )
        )
    return rows


def iter_tail_txns(seed: int, n_keys: int):
    """The live_tail change stream, without end: 1-5 events per
    transaction, Zipf-skewed updates of preloaded keys, ~4% deletes, ~3%
    inserts of new keys. SCNs continue after the preload (first txn at
    scn n_keys + 1)."""
    rng = random.Random(seed * 104729 + 3)
    keys = ZipfKeys(rng, n_keys)
    next_new = n_keys
    for i in itertools.count():
        scn = n_keys + 1 + i
        seen: set[int] = set()
        evs = []
        for _ in range(rng.randint(1, 5)):
            u = rng.random()
            if u < 0.03:
                k, op = next_new, "UPSERT"
                next_new += 1
            else:
                k = keys.draw()
                op = "DELETE" if u < 0.07 else "UPSERT"
            if k in seen:
                continue
            seen.add(k)
            payload = None if op == "DELETE" else narrow_payload(rng, k, scn)
            evs.append(event(op, k, payload))
        yield Txn(scn, tuple(evs))


def tail_txns(seed: int, n_keys: int, n_txns: int) -> list[Txn]:
    """The first ``n_txns`` transactions of ``iter_tail_txns``."""
    return list(itertools.islice(iter_tail_txns(seed, n_keys), n_txns))


# -- bootstrap_serve -----------------------------------------------------------
def changelog_columns(seed: int, n_events: int, n_keys: int) -> dict:
    """A three-source changelog of about ``n_events`` events as envelope
    columns (``ROW_FIELDS``): 1-4 events per transaction, Zipf-skewed
    keys, ~5% deletes, one transaction per SCN. Drawn with numpy: at
    hundreds of thousands of events, per-event Python would dominate
    set-up."""
    import numpy as np

    rng = np.random.default_rng(seed * 32452843 + 7)
    order = np.array(ZipfKeys(random.Random(seed * 32452843 + 8), n_keys).ids)
    cum = np.cumsum(1.0 / np.arange(1, n_keys + 1) ** ZIPF_S)
    n_txns = int(n_events / 2.5 * 1.1) + 8
    sizes = rng.integers(1, 5, n_txns)
    txn = np.repeat(np.arange(n_txns), sizes)[:n_events]
    key = order[np.searchsorted(cum, rng.random(len(txn)) * cum[-1], side="right")]
    # a key appears at most once per transaction: keep its first draw
    _, first = np.unique(txn.astype(np.int64) * n_keys + key, return_index=True)
    keep = np.sort(first)
    txn, key = txn[keep], key[keep]
    n = len(key)
    scn = txn + 1
    delete = rng.random(n) < 0.05
    amount = np.round(rng.uniform(1, 10_000, n), 2).tolist()
    status = rng.integers(0, len(STATUSES), n).tolist()
    qty = rng.integers(1, 51, n).tolist()
    keys, scns = key.tolist(), scn.tolist()
    # json.dumps(narrow_payload(...), sort_keys=True), written out
    payload = [
        None if d else
        f'{{"amount": {a!r}, "qty": {q}, "ref": "r{k:08d}", '
        f'"status": "{STATUSES[st]}", "ver": {v}}}'
        for d, a, q, k, st, v in zip(delete.tolist(), amount, qty, keys, status, scns)
    ]
    part = ((key.astype(np.int64) * 2654435761) & 0xFFFFFFFF) >> 13
    return {
        "scn": scns,
        "ts": (scn + TS_BASE_MS).tolist(),
        "opcode": np.where(delete, "DELETE", "UPSERT").tolist(),
        "source": [SOURCES[k % 3] for k in keys],
        "source_id": (key % 3 + 1).tolist(),
        "part_id": (part % N_PARTS).tolist(),
        "key_num": keys,
        "key_str": [str(k) for k in keys],
        "txn_end": [True] * n,
        "payload": payload,
    }


# -- shared --------------------------------------------------------------------
def txn_rows(txns, keep=None) -> list[tuple]:
    """Transactions as CDC envelope rows (the reader's output shape with
    txn_end framing dropped to True), optionally filtered per event."""
    rows = []
    for t in txns:
        for ev in t.events:
            if keep is not None and not keep(ev):
                continue
            rows.append(
                (
                    t.scn, ts_of(t.scn), ev["op"], ev["source"], ev["source_id"],
                    ev["part_id"], ev["key_num"], ev["key_str"], True,
                    payload_json(ev["payload"]),
                )
            )
    return rows


def write_rows_parquet(rows: list[tuple], path: str) -> None:
    """Stage envelope rows as one parquet file (pyarrow; no Spark job)."""
    cols = list(zip(*rows)) if rows else [[] for _ in ROW_FIELDS]
    write_columns_parquet(dict(zip(ROW_FIELDS, cols)), path)


def write_columns_parquet(cols: dict, path: str, row_group_size: int = 65536) -> None:
    """Stage envelope columns as one parquet file. ``ts`` is written
    UTC-adjusted so Spark reads it as TIMESTAMP."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "scn": pa.array(cols["scn"], pa.int64()),
            "ts": pa.array(cols["ts"], pa.int64()).cast(pa.timestamp("ms", tz="UTC")),
            "opcode": pa.array(cols["opcode"], pa.string()),
            "source": pa.array(cols["source"], pa.string()),
            "source_id": pa.array(cols["source_id"], pa.int32()),
            "part_id": pa.array(cols["part_id"], pa.int32()),
            "key_num": pa.array(cols["key_num"], pa.int64()),
            "key_str": pa.array(cols["key_str"], pa.string()),
            "txn_end": pa.array(cols["txn_end"], pa.bool_()),
            "payload": pa.array(cols["payload"], pa.string()),
        }
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size)


def write_trail(writer, txns) -> list[float]:
    """Append transactions through ``BinlogWriter.append_txn``; returns
    the per-append durations in microseconds."""
    import time

    out = []
    for t in txns:
        t0 = time.perf_counter()
        writer.append_txn(t.scn, ts_of(t.scn), list(t.events))
        out.append((time.perf_counter() - t0) * 1e6)
    return out
