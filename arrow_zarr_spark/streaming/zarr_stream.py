"""Streaming Zarr source: tail a growing 1-D store as a stream.

A Zarr store "grows" by rewriting each array's zarr.json with a larger
shape and adding chunk objects (the append pattern of zarr writers).
Appenders must write chunk objects BEFORE the enlarged metadata —
the stream polls continuously and trusts the advertised shape, so
metadata-first appends expose a window where new rows read as fill
values.
This source polls the store's current length and emits the new row
range each microbatch — offset = row position, exactly-once replay via
readBetweenOffsets.

Uses the SimpleDataSourceStreamReader API (driver-side reads — right
for control-rate streams like sensor appends; a partition-parallel
DataSourceStreamReader is the scale path and shares all the chunk
logic below)."""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, List, Tuple

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from ..datasource import _infer_struct, zarr_arrow_type
from ..zarr.array import infer_store_arrays
from ..zarr.meta import ZarrFormatError
from ..zarr.store import open_store

__all__ = ["ZarrStreamDataSource"]


def _validate_1d(arrays):
    for a in arrays:
        if a.meta.ndim != 1:
            raise ZarrFormatError(
                "zarr streaming source supports 1-D stores (the "
                "writer's layout); got "
                f"{a.meta.ndim}-D array {a.meta.name!r}"
            )
    return arrays


def _read_row_range(path: str, start: int, end: int) -> List[list]:
    """Column vectors for store rows [start, end) via chunk slicing
    (each array may have its own chunk size)."""
    arrays = _validate_1d(infer_store_arrays(open_store(path)))
    cols = []
    for a in arrays:
        chunk = a.meta.chunk_shape[0]
        vals: list = []
        if end > start:
            c0, c1 = start // chunk, (end - 1) // chunk
            for ci in range(c0, c1 + 1):
                block = a.read_chunk((ci,))
                lo = max(start - ci * chunk, 0)
                hi = min(end - ci * chunk, len(block))
                vals.extend(block[lo:hi].tolist())
        cols.append(vals)
    return cols


class ZarrStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, path: str):
        self.path = path

    def _arrays(self):
        return _validate_1d(infer_store_arrays(open_store(self.path)))

    def initialOffset(self) -> dict:
        return {"row": 0}

    def _read_range(self, start: int, end: int):
        cols = _read_row_range(self.path, start, end)
        # a list_iterator, not a generator: the prefetch wrapper both
        # calls next() on it and pickles it for replay caching, and
        # generators don't pickle
        return iter([tuple(row) for row in zip(*cols)] if cols else [])

    def read(self, start: dict) -> Tuple[Iterator[Tuple], dict]:
        arrays = self._arrays()
        current = min(a.meta.shape[0] for a in arrays)
        lo = int(start.get("row", 0))
        if current <= lo:
            return iter([]), {"row": lo}
        return self._read_range(lo, current), {"row": current}

    def readBetweenOffsets(
        self, start: dict, end: dict
    ) -> Iterator[Tuple]:
        return self._read_range(int(start["row"]), int(end["row"]))


@dataclass
class ZarrStreamPartition(InputPartition):
    start: int
    end: int

    def __init__(self, start: int, end: int):
        self.start, self.end = start, end
        self.value = (start, end)


class ZarrParallelStreamReader(DataSourceStreamReader):
    """Partition-parallel streaming reads: the driver only tracks row
    offsets; each microbatch's row range splits into ``rows_per_task``
    partitions whose chunk reads run on executors as Arrow batches —
    the same execution model as the batch scan, for streams too fast
    for a driver-side reader."""

    def __init__(self, path: str, rows_per_task: int):
        self.path = path
        self.rows_per_task = rows_per_task

    def initialOffset(self) -> dict:
        return {"row": 0}

    def latestOffset(self) -> dict:
        arrays = _validate_1d(infer_store_arrays(open_store(self.path)))
        return {"row": min(a.meta.shape[0] for a in arrays)}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["row"]), int(end["row"])
        if hi <= lo:
            return [ZarrStreamPartition(lo, lo)]
        step = self.rows_per_task
        return [
            ZarrStreamPartition(s, min(s + step, hi))
            for s in range(lo, hi, step)
        ]

    def read(self, partition: ZarrStreamPartition):
        if partition.end <= partition.start:
            return
        arrays = _validate_1d(
            infer_store_arrays(open_store(self.path))
        )
        cols = _read_row_range(self.path, partition.start, partition.end)
        schema = pa.schema(
            [
                pa.field(a.meta.name, zarr_arrow_type(a.meta.zarr_dtype))
                for a in arrays
            ]
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.asarray(c), type=f.type)
                for c, f in zip(cols, schema)
            ],
            schema=schema,
        )

    def commit(self, end: dict) -> None:
        pass


class ZarrStreamDataSource(DataSource):
    """``spark.readStream.format("zarr-stream").load(path)``.

    Default: partition-parallel executor-side reads. Pass
    ``.option("driver_reader", "true")`` for the simple driver-side
    reader (prototyping / very slow streams)."""

    @classmethod
    def name(cls) -> str:
        return "zarr-stream"

    def schema(self) -> StructType:
        path = self.options.get("path")
        if not path:
            raise ZarrFormatError("zarr-stream requires a path")
        return _infer_struct(infer_store_arrays(open_store(path)))

    def _use_simple(self) -> bool:
        return (
            str(self.options.get("driver_reader", "false")).lower()
            == "true"
        )

    def streamReader(self, schema: StructType) -> ZarrParallelStreamReader:
        if self._use_simple():
            # the engine falls back to simpleStreamReader on this error
            from pyspark.errors import PySparkNotImplementedError

            raise PySparkNotImplementedError(
                errorClass="NOT_IMPLEMENTED",
                messageParameters={"feature": "streamReader"},
            )
        return ZarrParallelStreamReader(
            self.options["path"],
            int(self.options.get("rows_per_task", 65536) or 65536),
        )

    def simpleStreamReader(self, schema: StructType) -> ZarrStreamReader:
        return ZarrStreamReader(self.options["path"])
