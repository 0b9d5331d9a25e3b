"""Spans recorded from outside the consumer, around calls into its layers.

Nothing inside the package is instrumented: the traced run wraps the state
store in :class:`StoreProxy`, swaps the dead-letter writer the pipeline
module imported for a timing wrapper, and counts Spark jobs through the
status tracker. Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

import pyarrow.parquet as pq


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self.batch: int | None = None   # batch id of the batch running now
        self.parent: int | None = None  # span id calls attach to

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            batch: int | None = None, **attrs) -> int:
        self.spans.append(dict(id=len(self.spans), name=name, start=start, end=end,
                               parent=parent, batch=batch, **attrs))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, **attrs):
        """Time a block as a child of the current parent span."""
        start = time.time()
        rec = dict(attrs)
        try:
            yield rec
        finally:
            self.add(name, start, time.time(), self.parent, self.batch, **rec)

    def open(self, name: str, **attrs) -> int:
        """Start a span that later calls attach to; end it with :meth:`close`."""
        return self.add(name, time.time(), None, self.parent, self.batch, **attrs)

    def close(self, span_id: int, **attrs) -> None:
        self.spans[span_id].update(end=time.time(), **attrs)

    def job_ids(self) -> set[int]:
        """Ids of the jobs in the calling thread's job group (a streaming
        query runs its batches in a group named after its run id)."""
        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        if group is None:
            return set()
        return set(sc.statusTracker().getJobIdsForGroup(group))

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part of it its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor, s["start"]), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dict(s, self=selfs[s["id"]])) + "\n")


def _new_parquet(root: str, since: float, prefix: str = "") -> list[str]:
    """Parquet files under ``root`` (in subdirectories starting with
    ``prefix``) written at or after ``since``."""
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        if dirpath == root:
            dirnames[:] = [d for d in dirnames if d.startswith(prefix)]
        for f in filenames:
            p = os.path.join(dirpath, f)
            if f.endswith(".parquet") and os.path.getmtime(p) >= since:
                out.append(p)
    return out


class StoreProxy:
    """Forwards every attribute to the real store, so ``hasattr`` checks see
    exactly what the store has; ``upsert``, ``evolve`` and ``init`` are
    timed, and an upsert also records what it rewrote."""

    def __init__(self, store, tracer: Tracer):
        self._store = store
        self._tracer = tracer

    def __getattr__(self, name):
        attr = getattr(self._store, name)
        if name == "upsert":
            return lambda *a, **kw: self._upsert(attr, *a, **kw)
        if name in ("evolve", "init"):
            return lambda table, *a, **kw: self._timed(f"state.{name}", attr, table, *a, **kw)
        return attr

    def _timed(self, span, method, table, *args, **kwargs):
        with self._tracer.span(span, table=table):
            return method(table, *args, **kwargs)

    def _upsert(self, upsert, table, *args, **kwargs):
        tr = self._tracer
        jobs0 = tr.job_ids()
        start = time.time()
        touched = upsert(table, *args, **kwargs)
        end = time.time()
        table_dir = self._store._path(table)
        with open(os.path.join(table_dir, "_layout.json")) as fh:
            n_buckets = json.load(fh)["n_buckets"]
        files = _new_parquet(table_dir, start, "_bucket=")
        tr.add("state.upsert", start, end, tr.parent, tr.batch, table=table,
               jobs=len(tr.job_ids() - jobs0), buckets_touched=touched, n_buckets=n_buckets,
               rows_written=sum(pq.read_metadata(f).num_rows for f in files),
               bytes_written=sum(os.path.getsize(f) for f in files))
        # the footer reads above are the tracer's own cost, not the batch's
        tr.add("trace.bookkeeping", end, time.time(), tr.parent, tr.batch)
        return touched


def timed_dead_letters(write, tracer: Tracer):
    """A drop-in for ``write_dead_letters`` that records a span with the
    number of rows written (read from the new files' footers)."""

    def wrapper(df, path):
        start = time.time()
        write(df, path)
        end = time.time()
        rows = sum(pq.read_metadata(f).num_rows for f in _new_parquet(path, start))
        tracer.add("dead_letter.write", start, end, tracer.parent, tracer.batch, rows=rows)
        tracer.add("trace.bookkeeping", end, time.time(), tracer.parent, tracer.batch)

    return wrapper
