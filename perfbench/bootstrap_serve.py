"""bootstrap_serve: closed loop, one client, read-only. A seeded three-source
changelog is staged as parquet and a snapshot store is built from it in
set-up. Then the client runs rounds of a fixed seeded request mix:

* ``bootstrap_state`` from a random start SCN to a recent target SCN;
* ``RelayFacade.stream`` pages with a ``filter_config``, partitions and a
  ``size_bytes`` budget, from random checkpoints in the newer half of the
  log;
* ``ParquetSnapshotStore.lookup`` of 20 keys (live, deleted and absent).

Every answer is checked against DuckDB over the staged parquet. Nothing
is written during the measured window.
"""

from __future__ import annotations

import math
import os
import random
import time

import gen
import harness
from common import (
    Result, compaction_probe, filter_probe, finish_layers, merge_layers, read_rows,
)
from harness import median

# About 300k events over 30k keys, staged in 8 SCN-ordered chunks. A
# bootstrap then costs about 0.5 s of size-independent job overhead plus
# about 1.4 s per million events; ~1M events cost 48 s of
# set-up and 5.6 s per round on a 4-vCPU host, too slow for a 48-run
# campaign. See README.md.
N_EVENTS = 300_000
N_KEYS = 30_000
LOG_CHUNKS = 8
# Untimed warm-up rounds: the first is cold, and the JVM is still
# compiling during the second.
WARM_ROUNDS = 2
REQUEST_TYPES = ("bootstrap_ms", "stream_page_ms", "lookup_ms")
LOOKUP_KEYS = 20
PAGE_BUDGETS = (16 << 10, 64 << 10, 256 << 10)
GOLDEN = 0.6180339887498949


def page_request(rng: random.Random, max_scn: int, r: int, offset: float) -> dict:
    """Round r's page request. The checkpoint and the byte budget, which
    set most of a page's cost, are stratified rather than drawn
    independently: checkpoints follow a golden-ratio sequence from a
    seeded offset over the newer half of the log, and budgets cycle. A
    few rounds then cover the whole range, so their median cost varies
    less from seed to seed."""
    mod_buckets = sorted(rng.sample(range(8), rng.randint(2, 6)))
    ranges = sorted(rng.sample(range(20), rng.randint(4, 16)))
    frac = (offset + r * GOLDEN) % 1.0
    return {
        "since": max_scn // 2 + int(frac * (max_scn - max_scn // 2)),  # consumers trail the head
        "filter_config": {
            "orders": {
                "partitionType": "MOD", "numBuckets": 8,
                "buckets": "[" + ",".join(map(str, mod_buckets)) + "]",
            },
            "customer": {
                "partitionType": "RANGE", "size": 2_500,
                "partitions": "[" + ",".join(map(str, ranges)) + "]",
            },
        },
        "partitions": sorted(rng.sample(range(gen.N_PARTS), rng.randint(2, gen.N_PARTS))),
        "size_bytes": PAGE_BUDGETS[r % len(PAGE_BUDGETS)],
    }


def lookup_request(rng: random.Random, live: list, dead: list, n_keys: int) -> list:
    n_dead = min(3, len(dead))
    keys = rng.sample(live, LOOKUP_KEYS - 3 - n_dead) + rng.sample(dead, n_dead)
    for _ in range(3):  # never written
        k = n_keys + 1_000_000 + rng.randrange(1_000_000)
        f = gen.key_fields(k)
        keys.append((f["source"], f["key_str"]))
    return keys


class Oracle:
    """Independent answers from DuckDB over the staged parquet."""

    def __init__(self, log_glob: str) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"CREATE VIEW log AS SELECT * FROM read_parquet('{log_glob}')")

    def rows(self, sql: str) -> set:
        return {tuple(r) for r in self.con.execute(sql).fetchall()}

    def bootstrap(self, start: int, target: int) -> set:
        from databus_spark.operators.bootstrap import bootstrap_oracle_sql

        return self.rows(
            bootstrap_oracle_sql("SELECT * FROM log", start, target, out_cols="source, key_str, scn")
        )

    def live_state(self) -> dict:
        from databus_spark.operators.compaction import snapshot_oracle_sql

        return {(s, k): scn for s, k, scn in self.rows(snapshot_oracle_sql("SELECT * FROM log"))}

    def page(self, r: dict) -> tuple[list, float]:
        """(expected page rows in order, selectivity of the page filter)."""
        from databus_spark.plans.filterconfig import oracle_predicate
        from databus_spark.serve import EVENT_HEADER_BYTES

        parts = ", ".join(map(str, r["partitions"]))
        pred = f"scn > {r['since']} AND part_id IN ({parts}) AND {oracle_predicate(r['filter_config'])}"
        order = "scn, source, key_str, opcode"
        rows = self.con.execute(
            f"""
            SELECT scn, source, key_str, opcode FROM (
                SELECT *, sum({EVENT_HEADER_BYTES} + length(key_str) + length(source))
                       OVER (ORDER BY {order} ROWS UNBOUNDED PRECEDING) AS cum
                FROM log WHERE {pred})
            WHERE cum <= {r['size_bytes']} ORDER BY {order}
            """
        ).fetchall()
        n_all, n_pass = self.con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE {pred}) FROM log WHERE scn > {r['since']}"
        ).fetchone()
        return [tuple(x) for x in rows], n_pass / max(1, n_all)


def run(ctx) -> Result:
    from databus_spark.operators.bootstrap import bootstrap_state
    from databus_spark.operators.filters import physical_partition_filter
    from databus_spark.plans.filterconfig import compile_config
    from databus_spark.serve import EVENT_HEADER_BYTES, RelayFacade
    from databus_spark.store.snapshot import ParquetSnapshotStore
    from spans import TracedStore, Tracer

    res = Result()
    n_events = 5_000 if ctx.smoke else N_EVENTS
    n_keys = 2_000 if ctx.smoke else N_KEYS

    # -- set-up: stage the changelog, build the store -------------------------
    cols = gen.changelog_columns(ctx.seed, n_events, n_keys)
    max_scn = cols["scn"][-1]
    n_rows = len(cols["scn"])
    # SCN-ordered chunks, as a changelog is staged: scans run one task per
    # chunk, on every core
    for j in range(LOG_CHUNKS):
        lo, hi = j * n_rows // LOG_CHUNKS, (j + 1) * n_rows // LOG_CHUNKS
        gen.write_columns_parquet(
            {k: v[lo:hi] for k, v in cols.items()}, ctx.path("log", f"chunk-{j}.parquet")
        )
    all_keys = {(gen.SOURCES[k % 3], str(k)) for k in set(cols["key_num"])}
    del cols
    spark = ctx.spark
    log = read_rows(spark, ctx.path("log"))
    tracer = Tracer(spark.sparkContext, enabled=ctx.trace)
    if ctx.trace:
        store = TracedStore(spark, ctx.path("store"), tracer=tracer)
    else:
        store = ParquetSnapshotStore(spark, ctx.path("store"))
    store.merge(log, batch_rows=n_rows)
    ctx.mark("store")
    oracle = Oracle(ctx.path("log", "*.parquet"))
    live_state = oracle.live_state()
    live = sorted(live_state)
    dead = sorted(all_keys - set(live_state))
    facade = RelayFacade(spark, log)
    ctx.mark("oracle")

    rng = random.Random(ctx.seed * 49979687 + 11)
    offset = rng.random()
    rounds: list[dict] = []
    checks = {"ops": 0, "failed": 0}

    def check(ok: bool, what: str) -> None:
        checks["ops"] += 1
        if not ok:
            checks["failed"] += 1
            res.mismatch(what)

    def one_round(r: int) -> dict:
        out = {"r": r}
        # bootstrap from a random start SCN to a recent target
        target = max_scn - rng.randint(0, max_scn // 10)
        start = rng.randint(0, target - 1)
        with tracer.span("operators.bootstrap.bootstrap_state", req=r):
            t = time.perf_counter()
            boot = bootstrap_state(log, start, target).toPandas()
            out["bootstrap_ms"] = (time.perf_counter() - t) * 1e3
        # one relay page
        pr = page_request(rng, max_scn, r, offset)
        with tracer.span("serve.stream", req=r):
            t = time.perf_counter()
            page = facade.stream(
                pr["since"], filter_config=pr["filter_config"],
                partitions=pr["partitions"], size_bytes=pr["size_bytes"],
            ).toPandas()
            out["stream_page_ms"] = (time.perf_counter() - t) * 1e3
        # one multi-key lookup
        keys = lookup_request(rng, live, dead, n_keys)
        with tracer.span("request.lookup", req=r):
            t = time.perf_counter()
            kdf = spark.createDataFrame(keys, "source STRING, key_str STRING")
            found = store.lookup(kdf).select("source", "key_str", "scn").collect()
            out["lookup_ms"] = (time.perf_counter() - t) * 1e3
        out["round_ms"] = out["bootstrap_ms"] + out["stream_page_ms"] + out["lookup_ms"]
        out["rows"] = len(boot) + len(page) + len(found)
        out["page_rows"] = len(page)
        out["page_req"] = pr
        out["answers"] = (start, target, boot, page, keys, found)
        return out

    def check_round(out: dict) -> None:
        """Check one round's answers against the oracle; the checks run
        outside the measured window."""
        r, pr = out["r"], out["page_req"]
        start, target, boot, page, keys, found = out.pop("answers")
        got = set(zip(boot["source"], boot["key_str"], boot["scn"].astype(int)))
        check(got == oracle.bootstrap(start, target), f"bootstrap round {r}")
        want_page, out["selectivity"] = oracle.page(pr)
        got_page = list(zip(page["scn"].astype(int), page["source"], page["key_str"], page["opcode"]))
        used = sum(EVENT_HEADER_BYTES + len(k) + len(s) for _, s, k, _ in got_page)
        check(got_page == want_page and used <= pr["size_bytes"], f"stream page round {r}")
        want_found = {(s, k, live_state[(s, k)]) for s, k in keys if (s, k) in live_state}
        check({tuple(x) for x in found} == want_found, f"lookup round {r}")

    for r in range(-WARM_ROUNDS, 0):  # warm-up, checked but not timed
        check_round(one_round(r))
    res.setup_s = ctx.mark("warmup")

    # -- measured window: closed loop, one client -----------------------------
    ticks0 = harness.cpu_ticks()
    t_end = time.perf_counter() + ctx.seconds
    r = 0
    while time.perf_counter() < t_end or r < 2:
        if ctx.trace:  # alternate traced and untraced rounds
            tracer.enabled = r % 2 == 1
        out = one_round(r)
        out["traced"] = tracer.enabled
        rounds.append(out)
        r += 1
    tracer.enabled = False
    ticks1 = harness.cpu_ticks()
    for out in rounds:
        check_round(out)

    res.attempted = checks["ops"]
    res.failed = checks["failed"]
    # the geometric mean of the three request types' medians: each type
    # weighs the same, so doubling any one of them moves it by 26%
    res.e2e["latency_ms.p50"] = math.prod(
        median([o[k] for o in rounds]) for k in REQUEST_TYPES
    ) ** (1 / len(REQUEST_TYPES))
    res.e2e["peak_rss_mb"] = harness.peak_rss_mb(spark)
    res.notes += [
        "bootstrap_serve: one round = bootstrap + relay page + 20-key lookup; "
        "latency_ms.p50 = geometric mean of the three request types' medians"
    ]
    res.notes += [ctx.setup_note()]
    for name in ("round_ms", "bootstrap_ms", "stream_page_ms", "lookup_ms"):
        res.notes += harness.describe(name.removesuffix("_ms") + "_ms", [o[name] for o in rounds], "ms")
    res.notes += ["  round_ms per round: " + " ".join(f"{o['round_ms']:.0f}" for o in rounds)]
    res.notes += [harness.steal_note(ticks0, ticks1)]
    res.notes += [
        f"  events={n_rows} keys_live={len(live)} max_scn={max_scn} "
        f"rounds={len(rounds)} rows_per_s="
        f"{sum(o['rows'] for o in rounds) / sum(o['round_ms'] for o in rounds) * 1e3:.0f}"
    ]

    if ctx.trace:
        tracer.resolve_jobs()
        traced = [o for o in rounds if o["traced"]]
        untraced = [o for o in rounds if not o["traced"]]

        def per_call(name, key):
            return median([s.attrs[key] for s in tracer.named(name) if s.req >= 0])

        layers = merge_layers(tracer.named("store.snapshot.merge"))
        layers["store.snapshot.files_per_version"] = store.files_in_current_version()
        layers["store.snapshot.lookup_jobs"] = per_call("request.lookup", "jobs")
        layers["operators.bootstrap.jobs"] = per_call("operators.bootstrap.bootstrap_state", "jobs")
        layers["operators.bootstrap.tasks"] = per_call("operators.bootstrap.bootstrap_state", "tasks")
        layers["serve.stream_jobs"] = per_call("serve.stream", "jobs")
        layers["serve.rows_per_page"] = median([o["page_rows"] for o in rounds])
        layers["operators.filters.selectivity"] = median([o["selectivity"] for o in rounds])
        pr = rounds[0]["page_req"]
        pred = compile_config(pr["filter_config"]) & physical_partition_filter(pr["partitions"])
        layers["operators.filters.overhead_ratio"] = filter_probe(log, pred)[1]
        layers["operators.compaction.latest_by_key_ms"], layers["operators.compaction.reduction"] = (
            compaction_probe(log)
        )
        layers["trace.overhead_ratio"] = median([o["round_ms"] for o in traced]) / median(
            [o["round_ms"] for o in untraced]
        )
        finish_layers(res, layers)
        tracer.dump(os.path.join(harness.OUT_DIR, f"bootstrap_serve-seed{ctx.seed}-spans.jsonl"))
    return res
