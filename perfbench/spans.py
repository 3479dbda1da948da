"""Spans for the traced run, recorded only from the benchmark's own files.

* ``Tracer.span`` times a call and tags the Spark jobs it starts
  (``SparkContext.addJobTag``), so job and task counts per call come
  from the status store once the run ends.
* ``TracedStore`` / ``TracedApplier`` subclass the engine's
  ``ParquetSnapshotStore`` / ``StreamingApplier``, time ``merge`` and
  ``apply_batch`` and then delegate.
* ``PhaseListener`` turns each streaming progress report's
  ``durationMs`` into trigger-phase spans.

Each span has a name, start, end, parent and request id (micro-batch id
or request number). Spans stay in memory and are written out at the end.
A span's self time is its duration minus the time its children cover.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from databus_spark.store.snapshot import ParquetSnapshotStore
from databus_spark.streaming.applier import StreamingApplier

# Order in which a micro-batch runs its phases (MicroBatchExecution).
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    req: object = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """In-memory span recorder. ``enabled`` can be toggled so one run can
    interleave traced and untraced operations (the tracing overhead)."""

    def __init__(self, sc, enabled: bool = True) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def add(self, name, start, end, parent=None, req=None, **attrs) -> Span:
        with self._lock:
            sp = Span(self._next, name, start, end, parent, req, dict(attrs))
            self._next += 1
            self.spans.append(sp)
        return sp

    @contextmanager
    def span(self, name: str, req=None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        if req is None and parent is not None:
            req = parent.req
        sp = self.add(name, time.time(), 0.0, parent.id if parent else None, req, **attrs)
        tag = f"perfbench-span-{sp.id}"
        self.sc.addJobTag(tag)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            self.sc.removeJobTag(tag)

    # -- after the run ------------------------------------------------------
    def resolve_jobs(self, settle_s: float = 1.0) -> None:
        """Attach ``jobs``/``tasks`` to every measured span from the
        status store (read once, after the listener bus has settled)."""
        time.sleep(settle_s)
        seq = self.sc._jsc.sc().statusStore().jobsList(None)
        per_tag: dict[str, list[int]] = {}
        for i in range(seq.size()):
            jd = seq.apply(i)
            tasks = int(jd.numCompletedTasks())
            for tag in jd.jobTags().mkString("\u0001").split("\u0001"):
                if tag.startswith("perfbench-span-"):
                    per_tag.setdefault(tag, []).append(tasks)
        for sp in self.spans:
            got = per_tag.get(f"perfbench-span-{sp.id}")
            if sp.end and "jobs" not in sp.attrs:
                sp.attrs["jobs"] = len(got or [])
                sp.attrs["tasks"] = sum(got or [])

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def self_ms(self, sp: Span, kids: dict[int, list[Span]]) -> float:
        """Duration minus the union of child intervals clipped to it."""
        iv = sorted(
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in kids.get(sp.id, [])
            if c.end > sp.start and c.start < sp.end
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in iv:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return max(0.0, (sp.end - sp.start - covered) * 1e3)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.end]

    def dump(self, path: str) -> None:
        kids = self.children()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                rec = {
                    "id": sp.id, "name": sp.name, "start": sp.start, "end": sp.end,
                    "parent": sp.parent, "req": sp.req, "self_ms": self.self_ms(sp, kids),
                    **sp.attrs,
                }
                f.write(json.dumps(rec, default=str) + "\n")


# -- engine subclasses -----------------------------------------------------------
def _version_files(store: ParquetSnapshotStore, version: int):
    """(bucket, size, nlink) of every parquet file of a store version.
    A file with one link was written by this version; carried-forward
    buckets are hard links to the previous version's files."""
    root = store._data_dir(version)
    out = []
    for dirpath, _dirs, files in os.walk(root):
        bucket = os.path.basename(dirpath)
        for name in files:
            if name.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, name))
                out.append((bucket, st.st_size, st.st_nlink))
    return out


class TracedStore(ParquetSnapshotStore):
    def __init__(self, *args, tracer: Tracer, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.tracer = tracer

    def merge(self, batch, **kwargs) -> int:
        with self.tracer.span("store.snapshot.merge") as sp:
            version = super().merge(batch, **kwargs)
        if sp is not None:
            files = _version_files(self, version)
            fresh = [f for f in files if f[2] == 1]
            sp.attrs.update(
                rows=kwargs.get("batch_rows"),
                new_bytes=sum(f[1] for f in fresh),
                touched_frac=len({f[0] for f in fresh}) / self.n_buckets,
                files=len(files),
            )
        return version

    def files_in_current_version(self) -> int:
        v = self._version()
        return len(_version_files(self, v)) if v else 0


class TracedApplier(StreamingApplier):
    """While ``tracing`` is set, odd micro-batches are traced and even
    ones are not, so the two interleave and their trigger times give the
    tracing overhead."""

    def __init__(self, store, tracer: Tracer, **kwargs) -> None:
        super().__init__(store, **kwargs)
        self.tracer = tracer
        self.tracing = False
        self.epochs: dict[bool, list[int]] = {True: [], False: []}  # by traced

    def apply_batch(self, batch, epoch_id: int) -> None:
        before = self.rows_applied
        self.tracer.enabled = self.tracing and epoch_id % 2 == 1
        if self.tracing:
            self.epochs[self.tracer.enabled].append(epoch_id)
        with self.tracer.span("streaming.applier.apply_batch", req=epoch_id) as sp:
            super().apply_batch(batch, epoch_id)
        if sp is not None:
            sp.attrs["rows"] = self.rows_applied - before


class PhaseListener(StreamingQueryListener):
    """Collects progress reports; ``to_spans`` lays each report's phases
    out in execution order from the trigger's start timestamp."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self) -> list[dict]:
        """Progress reports of the triggers that ran a batch."""
        with self._lock:
            ps = list(self.progress)
        return [p for p in ps if "addBatch" in p.get("durationMs", {})]

    def to_spans(self, tracer: Tracer) -> None:
        """Phase spans of the traced batches; a batch id is the epoch id
        of its ``apply_batch`` span, so both share a request id."""
        applies = {s.req: s for s in tracer.named("streaming.applier.apply_batch")}
        for p in self.batches():
            req = p["batchId"]
            if req not in applies:
                continue
            ts = p["timestamp"].replace("Z", "+00:00")
            start = datetime.fromisoformat(ts).timestamp()
            dur = p["durationMs"]
            trig = tracer.add(
                "streaming.trigger", start, start + dur["triggerExecution"] / 1e3,
                req=req, rows=p.get("numInputRows", 0),
            )
            t = start
            for ph in PHASES:
                if ph not in dur:
                    continue
                sp = tracer.add(
                    f"streaming.{ph}", t, t + dur[ph] / 1e3, trig.id, req, phase=True
                )
                t = sp.end
                if ph == "addBatch" and applies[req].parent is None:
                    applies[req].parent = sp.id
