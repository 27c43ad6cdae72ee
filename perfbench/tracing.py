"""In-memory spans and counters around the engine's layer functions.

The benchmark records spans from its own files: :class:`Patches` swaps
each traced layer function for a wrapper where the caller looks it up
(for example ``arrow_zarr_spark.zarr.array.decode_chunk``, the name the
chunk reader calls) and puts the originals back afterwards. Nothing
inside ``arrow_zarr_spark`` is edited. A span's name starts with the
layer it measures (``store.get`` is in the ``store`` layer).

Each span records its name, start, end, thread and the span that was
open on the same thread when it started (its parent). Recording takes a
lock, so wrappers called from the reader's prefetch pool are safe.
Spans stay in memory; :meth:`Tracer.dump` writes them out at the end.

A span's self time is its duration minus the part of it covered by its
child spans.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from typing import Dict, List, Tuple

PLAN_SPANS = (
    "datasource.construct",
    "datasource.schema",
    "datasource.reader",
    "datasource.pushFilters",
    "datasource.partitions",
)


class Tracer:
    def __init__(self):
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0
        self.spans: List[Tuple[int, int, str, float, float, int]] = []
        self.counts: Counter = Counter()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = stack[-1] if stack else 0
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            rec = (sid, parent, name, t0, t1, threading.get_ident())
            with self._lock:
                self.spans.append(rec)

    def add(self, key: str, n=1) -> None:
        with self._lock:
            self.counts[key] += n

    def thread_misses(self) -> int:
        return getattr(self._local, "misses", 0)

    def _missed(self) -> None:
        self._local.misses = self.thread_misses() + 1

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for sid, parent, name, t0, t1, tid in self.spans:
                f.write(json.dumps({
                    "id": sid, "parent": parent, "name": name,
                    "start": t0, "end": t1, "thread": tid,
                }) + "\n")


def _union_length(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans) -> Dict[str, float]:
    """Span name -> summed self time: each span's duration minus the
    union of its children's intervals, clipped to the span."""
    by_id = {s[0]: s for s in spans}
    children = defaultdict(list)
    for sid, parent, _name, t0, t1, _tid in spans:
        if parent in by_id:
            children[parent].append((t0, t1))
    out: Dict[str, float] = defaultdict(float)
    for sid, _parent, name, t0, t1, _tid in spans:
        covered = _union_length(
            (max(lo, t0), min(hi, t1))
            for lo, hi in children.get(sid, ())
            if min(hi, t1) > max(lo, t0)
        )
        out[name] += (t1 - t0) - covered
    return dict(out)


def durations(spans) -> Dict[str, float]:
    out: Dict[str, float] = defaultdict(float)
    for _sid, _parent, name, t0, t1, _tid in spans:
        out[name] += t1 - t0
    return dict(out)


# -- wrappers -----------------------------------------------------------


def _spanned(tracer: Tracer, name: str, fn, after=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            out = fn(*args, **kwargs)
        if after is not None:
            after(args, out)
        return out

    return wrapper


def _counted(tracer: Tracer, key: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        tracer.add(key)
        return fn(*args, **kwargs)

    return wrapper


def _targets(tracer: Tracer):
    """(owner, attribute, wrapper factory) for every traced function."""
    from arrow_zarr_spark import datasource
    from arrow_zarr_spark.zarr import array, writer
    from arrow_zarr_spark.zarr.array import ZarrArray
    from arrow_zarr_spark.zarr.store import LocalStore
    from arrow_zarr_spark.zarr.table import ChunkPlan

    t = tracer

    def after_get(_args, out):
        t.add("store.get_n")
        if out is None:
            t._missed()
        else:
            t.add("store.get_bytes", len(out))

    def after_set(args, _out):
        value = args[2]
        t.add("store.set_n")
        t.add("store.set_bytes", len(value))

    def after_decode(args, out):
        t.add("codecs.decode_n")
        t.add("codecs.decode_in_bytes", len(args[1]))
        t.add("codecs.decode_out_bytes", out.nbytes)

    def after_encode(args, out):
        t.add("codecs.encode_n")
        t.add("codecs.encode_in_bytes", args[1].nbytes)
        t.add("codecs.encode_out_bytes", len(out))

    def after_mask(_args, out):
        t.add("filters.mask_n")
        if out is not None and out.any():
            t.add("filters.mask_useful_n")

    def wrap_read_chunk(fn):
        @functools.wraps(fn)
        def wrapper(self, *args, **kwargs):
            misses = t.thread_misses()
            with t.span("array.read_chunk"):
                out = fn(self, *args, **kwargs)
            t.add("array.read_chunk_n")
            if self.meta.is_coordinate() and getattr(t._local, "cells", 0):
                # coordinate reads made while evaluating a grid cell
                t.add("array.coord_read_chunk_n")
            if t.thread_misses() > misses:
                t.add("array.fill_chunks_n")
            return out

        return wrapper

    def wrap_evaluate(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            local = t._local
            local.cells = getattr(local, "cells", 0) + 1
            try:
                with t.span("table.evaluate"):
                    out = fn(*args, **kwargs)
            finally:
                local.cells -= 1
            t.add("table.evaluate_n")
            return out

        return wrapper

    return [
        (LocalStore, "get", lambda f: _spanned(t, "store.get", f, after_get)),
        (LocalStore, "get_range",
         lambda f: _spanned(t, "store.get", f, after_get)),
        (LocalStore, "set", lambda f: _spanned(t, "store.set", f, after_set)),
        (LocalStore, "list_root", lambda f: _counted(t, "store.list_n", f)),
        (LocalStore, "walk_keys", lambda f: _counted(t, "store.list_n", f)),
        (LocalStore, "walk_prefix", lambda f: _counted(t, "store.list_n", f)),
        (array, "decode_chunk",
         lambda f: _spanned(t, "codecs.decode", f, after_decode)),
        (writer, "encode_chunk",
         lambda f: _spanned(t, "codecs.encode", f, after_encode)),
        (ZarrArray, "read_chunk", wrap_read_chunk),
        (ChunkPlan, "evaluate", wrap_evaluate),
        (datasource, "conjunction_mask",
         lambda f: _spanned(t, "filters.mask", f, after_mask)),
        (datasource, "infer_store_arrays",
         lambda f: _spanned(t, "array.meta_load", f)),
    ]


class Patches:
    """Install and remove the wrappers of one tracer."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved = []

    def install(self) -> None:
        if self._saved:
            return
        for owner, attr, factory in _targets(self.tracer):
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, factory(orig))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def __enter__(self):
        self.install()
        return self.tracer

    def __exit__(self, *exc):
        self.uninstall()
        return False
