"""In-process replays of one operation, for the traced run.

Each query of a read operation is replayed through the DataSource
protocol exactly as Spark drives it: ``ZarrDataSource(options)`` -> ``schema()`` ->
``reader()`` -> ``pushFilters()`` -> ``partitions()`` -> ``read()`` for
every partition. The reader runs with ``io_threads=1``, so every layer
call happens on the replaying thread, spans nest strictly and the self
times of one replay add up to its wall time.

An append is replayed as the chunk writes it makes: the boundary chunk
is read back and merged, and every chunk of the batch goes through
``write_chunk`` (``encode_chunk`` + ``LocalStore.set``) into a scratch
copy of the store.
"""

from __future__ import annotations

import shutil
import time
from contextlib import nullcontext
from dataclasses import replace
from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from tracing import Tracer

REPLAY_OPTIONS = {"io_threads": "1"}


def _span(tracer: Optional[Tracer], name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


class ReadReplay:
    """Result of one read replay."""

    def __init__(self, wall_s, cells_total, cells_kept, partitions, batches):
        self.wall_s = wall_s
        self.cells_total = cells_total
        self.cells_kept = cells_kept
        self.partitions = partitions
        self.batches = batches


def replay_read(query, tracer: Optional[Tracer] = None) -> ReadReplay:
    from arrow_zarr_spark.datasource import ZarrDataSource

    batches = []
    t0 = time.perf_counter()
    with _span(tracer, "bench.replay"):
        with _span(tracer, "datasource.construct"):
            ds = ZarrDataSource({"path": query.path, **REPLAY_OPTIONS})
        with _span(tracer, "datasource.schema"):
            schema = ds.schema()
        with _span(tracer, "datasource.reader"):
            reader = ds.reader(schema)
        if query.filters:
            with _span(tracer, "datasource.pushFilters"):
                list(reader.pushFilters(list(query.filters)))
        with _span(tracer, "datasource.partitions"):
            parts = reader.partitions()
        for part in parts:
            with _span(tracer, "datasource.read"):
                batches.extend(reader.read(part))
    wall = time.perf_counter() - t0
    kept = sum(len(p.cells) for p in parts if p.cells is not None)
    return ReadReplay(wall, reader.plan.n_cells, kept, len(parts), batches)


def check_read(query, rep: ReadReplay) -> bool:
    """Apply the query's filters exactly (as Spark does above the scan)
    to the replayed batches and compare with the expected row."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from workloads import check_row

    if not rep.batches:
        return query.expected["count"] == 0
    table = pa.Table.from_batches(rep.batches)
    mask = None
    for f in query.filters:
        col = table.column(f.attribute[0])
        if isinstance(f, GreaterThanOrEqual):
            m = pc.greater_equal(col, f.value)
        elif isinstance(f, LessThanOrEqual):
            m = pc.less_equal(col, f.value)
        else:
            continue
        mask = m if mask is None else pc.and_(mask, m)
    if mask is not None:
        table = table.filter(mask)
    row = {"count": table.num_rows}
    for key in query.expected["sums"]:
        row[key] = pc.sum(table.column(key[4:-1])).as_py()
    return check_row(row, query.expected)


class AppendReplay:
    """Scratch copy of an ingest store that replays each append's chunk
    writes in-process."""

    def __init__(self, src_path: str, scratch_path: str):
        from arrow_zarr_spark.zarr import (
            infer_store_arrays_authoritative,
            open_store,
        )

        shutil.rmtree(scratch_path, ignore_errors=True)
        shutil.copytree(src_path, scratch_path)
        self.store = open_store(scratch_path)
        self.metas = {
            a.meta.name: a.meta
            for a in infer_store_arrays_authoritative(self.store)
        }
        self.rows = next(iter(self.metas.values())).shape[0]

    def replay(self, columns, tracer: Optional[Tracer] = None) -> float:
        """Write ``columns`` (name -> 1-D array, the appended batch)
        after the current rows; returns the wall time. Replaying the
        same batch again rewrites the same chunks."""
        from arrow_zarr_spark.zarr.array import ZarrArray
        from arrow_zarr_spark.zarr.writer import write_chunk

        base = self.rows
        n = len(next(iter(columns.values())))
        t0 = time.perf_counter()
        with _span(tracer, "bench.replay"):
            for name, values in columns.items():
                meta = self.metas[name]
                unit = meta.chunk_shape[0]
                first, head = divmod(base, unit)
                if head:
                    old = ZarrArray(self.store, meta).read_chunk((first,))
                    values = np.concatenate([old[:head], values])
                new_meta = replace(meta, shape=(base + n,))
                for k in range(0, len(values), unit):
                    with _span(tracer, "io.write_chunk"):
                        write_chunk(
                            self.store, new_meta, (first + k // unit,),
                            values[k : k + unit],
                        )
        return time.perf_counter() - t0

    def commit(self, n: int) -> None:
        """Advance past a replayed batch of ``n`` rows."""
        self.rows += n
        self.metas = {
            k: replace(m, shape=(self.rows,)) for k, m in self.metas.items()
        }
