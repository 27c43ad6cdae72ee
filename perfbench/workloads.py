"""Seeded inputs, operations and expected results of the three workloads.

Every input is derived from the ``--seed`` argument; the program under
test only ever sees the generated stores and queries. Every operation
carries its expected result, computed with NumPy from the same seeded
values, so a wrong answer is caught and counted as a failed operation.

Stores are written under the benchmark's work directory, which lives on
whatever file system holds the checkout; the reads after generation are
served from the OS page cache, so latencies are this machine's, not a
storage device's.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

import numpy as np

#: float sums are compared with a tolerance relative to the sum of
#: absolute values (a plain relative tolerance is meaningless for a sum
#: of standard-normal values, which sits near zero)
SUM_RTOL = 1e-9

#: table columns keep this many random bits of a 64-bit hash, as exact
#: multiples of 2**-HASH_BITS in [-0.5, 0.5)
HASH_BITS = 20

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxhash64_long(values: np.ndarray, seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64`` of a bigint column (``XXH64.hashLong``),
    as int64, so expected values are computed without Spark."""
    x = values.astype(np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        h = np.uint64(seed) + _P5 + np.uint64(8)
        h = h ^ (_rotl(x * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h.view(np.int64)


@dataclass(frozen=True)
class Sizes:
    grid_n: int  # grid side, points per axis
    grid_chunk: int  # grid chunk side
    table_rows: int  # select_pruned table rows
    table_chunk: int  # select_pruned table chunk rows
    range_rows: int  # rows selected by one ts range query (1-2 chunks)
    box_side: int  # grid points per axis selected by one box (<= chunk)
    ingest_initial: int  # rows in the fresh ingest store (not chunk-aligned)
    ingest_batch: int  # rows appended by one ingest operation
    ingest_chunk: int  # ingest store chunk rows


FULL = Sizes(
    grid_n=1024, grid_chunk=128,
    table_rows=1 << 19, table_chunk=1 << 13, range_rows=10_000, box_side=100,
    ingest_initial=100_000, ingest_batch=1 << 18, ingest_chunk=1 << 16,
)

#: for the benchmark's own tests: same code paths, seconds per run
TINY = Sizes(
    grid_n=128, grid_chunk=32,
    table_rows=1 << 16, table_chunk=1 << 12, range_rows=5_000, box_side=20,
    ingest_initial=5_000, ingest_batch=1 << 14, ingest_chunk=1 << 12,
)

GRID_VARS = [f"v{i}" for i in range(6)]
TABLE_VARS = [f"c{i}" for i in range(4)]


@dataclass
class Query:
    """One read query: ``run(spark)`` returns its aggregate row. The
    in-process replay reads ``path`` with ``filters``, the
    pyspark.sql.datasource filters equal to the SQL predicate."""

    run: Callable
    expected: dict
    path: str
    filters: list
    rows: int  # rows the query matches


@dataclass
class Op:
    """One operation of the closed loop: ``run(spark)`` returns a result
    the workload's ``check`` compares with ``expected``; ``rows`` is
    what it covers (rows matched by reads, rows committed by writes)."""

    kind: str
    run: Callable
    rows: int
    expected: Optional[dict] = None
    queries: List[Query] = field(default_factory=list)


def close_sum(got, want: float, abs_sum: float) -> bool:
    if got is None:
        return False
    return abs(float(got) - want) <= SUM_RTOL * abs_sum + 1e-12


def check_row(row: dict, expected: dict) -> bool:
    """Compare an aggregate row with its expected values: ``count``
    exactly, every ``sum(<col>)`` within ``SUM_RTOL``."""
    if int(row["count"]) != expected["count"]:
        return False
    for col, (want, abs_sum) in expected["sums"].items():
        if not close_sum(row[col], want, abs_sum):
            return False
    return True


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _grid_coords(n: int):
    # exact binary fractions, so SQL literals compare exactly
    lat = (np.arange(n) - n // 2) * 0.125
    lon = (np.arange(n) - n // 2) * 0.25
    return lat, lon


def write_grid(path: str, rng: np.random.Generator, sizes: Sizes) -> Dict:
    """The 2-D lat/lon grid store: six standard-normal float64 arrays
    (incompressible under zstd) plus the two coordinates."""
    from arrow_zarr_spark.zarr import write_store

    n, c = sizes.grid_n, sizes.grid_chunk
    lat, lon = _grid_coords(n)
    arrays = {v: rng.standard_normal((n, n)) for v in GRID_VARS}
    arrays["lat"], arrays["lon"] = lat, lon
    dims = {v: ("lat", "lon") for v in GRID_VARS}
    dims.update(lat=("lat",), lon=("lon",))
    chunks = {v: (c, c) for v in GRID_VARS}
    chunks.update(lat=(c,), lon=(c,))
    write_store(
        path, arrays=arrays, chunk_shapes=chunks, dimension_names=dims,
        consolidate=True,
    )
    return arrays


def _hash_consts(rng: np.random.Generator, n: int) -> List[int]:
    """One seeded offset per column: column k hashes ``id + offset_k``."""
    return [int(x) for x in rng.integers(1 << 32, 1 << 40, size=n)]


def hash_column(ids: np.ndarray, offset: int) -> np.ndarray:
    mask = (1 << HASH_BITS) - 1
    return (xxhash64_long(ids + offset) & mask) / (1 << HASH_BITS) - 0.5


def hash_columns_np(ids: np.ndarray, consts) -> Dict[str, np.ndarray]:
    return {
        name: hash_column(ids, off) for name, off in zip(TABLE_VARS, consts)
    }


def hash_frame(spark, start: int, stop: int, consts):
    """``spark.range`` + hash expressions: ``ts`` plus four float64
    columns, identical bit for bit to :func:`hash_columns_np`."""
    from pyspark.sql import functions as F

    mask = (1 << HASH_BITS) - 1
    cols = [F.col("id").alias("ts")]
    for name, off in zip(TABLE_VARS, consts):
        h = F.xxhash64(F.col("id") + F.lit(off)).bitwiseAND(F.lit(mask))
        cols.append(
            (h / F.lit(1 << HASH_BITS) - F.lit(0.5)).alias(name)
        )
    return spark.range(start, stop).select(*cols)


def _sums(cols: Dict[str, np.ndarray]) -> Dict[str, tuple]:
    return {
        f"sum({k})": (float(np.sum(v)), float(np.sum(np.abs(v))))
        for k, v in cols.items()
    }


def _agg_row(df_row) -> dict:
    d = df_row.asDict()
    return {("count" if k == "count(1)" else k): v for k, v in d.items()}


class Workload:
    """Base class: ``setup`` builds the stores in ``workdir``,
    ``warmup`` runs the untimed first operations, ``op(i)`` gives the
    i-th timed operation, ``verify`` runs the post-run checks and
    returns the indexes of operations found wrong."""

    name = ""

    def __init__(self, seed: int, sizes: Sizes, workdir: str):
        self.seed = seed
        self.sizes = sizes
        self.workdir = workdir

    def stores(self) -> List[str]:
        raise NotImplementedError

    def user_bytes(self, n_ops: int) -> int:
        raise NotImplementedError

    def stored_bytes_per_user_byte(self, n_ops: int) -> float:
        stored = sum(dir_bytes(p) for p in self.stores())
        return stored / self.user_bytes(n_ops)

    def check(self, op: Op, result) -> bool:
        """Read operations return one row per query."""
        return len(result) == len(op.queries) and all(
            check_row(row, q.expected) for row, q in zip(result, op.queries)
        )

    def verify(self, n_ops: int) -> List[int]:
        return []

    def reset(self):
        shutil.rmtree(self.workdir, ignore_errors=True)
        os.makedirs(self.workdir)


class ScanGrid(Workload):
    """Throughput case: full-width aggregates over the whole grid."""

    name = "scan_grid"

    def setup(self, spark):
        self.reset()
        rng = np.random.default_rng(self.seed)
        self.grid_path = os.path.join(self.workdir, "grid")
        arrays = write_grid(self.grid_path, rng, self.sizes)
        n = self.sizes.grid_n
        cols = {v: arrays[v] for v in GRID_VARS}
        cols["lat"] = np.broadcast_to(arrays["lat"][:, None], (n, n))
        cols["lon"] = np.broadcast_to(arrays["lon"][None, :], (n, n))
        self.expected = {"count": n * n, "sums": _sums(cols)}
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW grid_scan USING zarr "
            f"OPTIONS (path '{self.grid_path}')"
        )
        self.sql = "SELECT count(*), " + ", ".join(
            f"sum({c})" for c in GRID_VARS + ["lat", "lon"]
        ) + " FROM grid_scan"

    def warmup(self, spark):
        op = self.op(-1)
        if not self.check(op, op.run(spark)):
            raise RuntimeError("scan_grid warm-up returned a wrong result")

    def op(self, i: int) -> Op:
        q = Query(
            lambda spark: _agg_row(spark.sql(self.sql).collect()[0]),
            self.expected, self.grid_path, [], self.sizes.grid_n ** 2,
        )
        return Op("scan", lambda spark: [q.run(spark)], q.rows, queries=[q])

    def stores(self):
        return [self.grid_path]

    def user_bytes(self, n_ops):
        n = self.sizes.grid_n
        return n * n * 8 * len(GRID_VARS) + 2 * n * 8


def _between(col: str, lo, hi) -> list:
    from pyspark.sql.datasource import (
        GreaterThanOrEqual,
        IsNotNull,
        LessThanOrEqual,
    )

    return [
        IsNotNull((col,)),
        GreaterThanOrEqual((col,), lo),
        LessThanOrEqual((col,), hi),
    ]


class SelectPruned(Workload):
    """Interactive case: selective queries that each keep 2 of 64
    chunks, in two shapes: a ``ts`` range over a table store read through
    ``spark.read.format("zarr")``, and a lat/lon box on the grid store
    through SQL on a temporary view.

    Each operation sends one query of each shape, one after the other.
    The shapes differ in latency by about a third, so with one query per
    operation the median latency would fall in the gap between the two
    modes and jump from one to the other between runs."""

    name = "select_pruned"

    def setup(self, spark):
        from arrow_zarr_spark.io import write_zarr

        self.reset()
        rng = np.random.default_rng(self.seed)
        s = self.sizes
        self.grid_path = os.path.join(self.workdir, "grid")
        self.grid = write_grid(self.grid_path, rng, s)
        self.lat, self.lon = _grid_coords(s.grid_n)
        self.table_path = os.path.join(self.workdir, "table")
        self.consts = _hash_consts(rng, len(TABLE_VARS))
        write_zarr(
            hash_frame(spark, 0, s.table_rows, self.consts),
            self.table_path, chunk_rows=s.table_chunk, stats=True,
        )
        self.table = hash_columns_np(
            np.arange(s.table_rows, dtype=np.int64), self.consts
        )
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW grid_sel USING zarr "
            f"OPTIONS (path '{self.grid_path}')"
        )
        # queries come from their own stream, so the data above does not
        # shift when the query mix changes
        self.qrng = np.random.default_rng([self.seed, 1])
        self._queries: List[tuple] = []

    def warmup(self, spark):
        op = self.op(-1)
        if not self.check(op, op.run(spark)):
            raise RuntimeError("select_pruned warm-up returned a wrong result")

    def _range_query(self) -> Query:
        from pyspark.sql import functions as F

        s = self.sizes
        # every range spans exactly two chunks (chunk < range_rows <=
        # 2 chunks), so each query does the same work whatever the seed
        c = s.table_chunk
        first = int(self.qrng.integers(0, s.table_rows // c - 1))
        lo = first * c + int(self.qrng.integers(0, 2 * c - s.range_rows + 1))
        hi = lo + s.range_rows - 1
        cols = {k: self.table[k][lo : hi + 1] for k in TABLE_VARS[:2]}
        expected = {"count": s.range_rows, "sums": _sums(cols)}
        path = self.table_path

        def run(spark):
            df = (
                spark.read.format("zarr").load(path)
                .where(F.col("ts").between(lo, hi))
                .agg(F.count(F.lit(1)).alias("count"),
                     *[F.sum(k).alias(f"sum({k})") for k in TABLE_VARS[:2]])
            )
            return _agg_row(df.collect()[0])

        return Query(run, expected, path, _between("ts", lo, hi),
                     s.range_rows)

    def _box_query(self) -> Query:
        s = self.sizes
        n, b, c = s.grid_n, s.box_side, s.grid_chunk
        # every box spans two chunks along lat and one along lon (two
        # cells), so each query does the same work whatever the seed
        i0 = int(self.qrng.integers(0, n // c - 1)) * c + int(
            self.qrng.integers(c - b + 1, c))
        j0 = int(self.qrng.integers(0, n // c)) * c + int(
            self.qrng.integers(0, c - b + 1))
        i1, j1 = i0 + b - 1, j0 + b - 1
        lat0, lat1 = float(self.lat[i0]), float(self.lat[i1])
        lon0, lon1 = float(self.lon[j0]), float(self.lon[j1])
        cols = {
            k: self.grid[k][i0 : i1 + 1, j0 : j1 + 1] for k in GRID_VARS[:2]
        }
        expected = {"count": b * b, "sums": _sums(cols)}
        sql = (
            "SELECT count(*), "
            + ", ".join(f"sum({k})" for k in GRID_VARS[:2])
            + f" FROM grid_sel WHERE lat BETWEEN {lat0!r} AND {lat1!r}"
            f" AND lon BETWEEN {lon0!r} AND {lon1!r}"
        )
        return Query(
            lambda spark: _agg_row(spark.sql(sql).collect()[0]),
            expected, self.grid_path,
            _between("lat", lat0, lat1) + _between("lon", lon0, lon1),
            b * b,
        )

    def op(self, i: int) -> Op:
        # the warm-up operation (-1) comes first in the same stream
        while len(self._queries) < i + 2:
            self._queries.append((self._range_query(), self._box_query()))
        queries = list(self._queries[i + 1])
        return Op(
            "range+box", lambda spark: [q.run(spark) for q in queries],
            sum(q.rows for q in queries), queries=queries,
        )

    def stores(self):
        return [self.grid_path, self.table_path]

    def user_bytes(self, n_ops):
        s = self.sizes
        grid = s.grid_n ** 2 * 8 * len(GRID_VARS) + 2 * s.grid_n * 8
        return grid + s.table_rows * 8 * (1 + len(TABLE_VARS))


class IngestAppend(Workload):
    """Write side: each operation appends one batch to a table store
    whose row count is not chunk-aligned, so every append also merges
    the boundary chunk and patches the statistics."""

    name = "ingest_append"

    def setup(self, spark):
        from arrow_zarr_spark.io import write_zarr

        self.reset()
        rng = np.random.default_rng(self.seed)
        self.consts = _hash_consts(rng, len(TABLE_VARS))
        self.path = os.path.join(self.workdir, "ingest")
        s = self.sizes
        write_zarr(
            hash_frame(spark, 0, s.ingest_initial, self.consts), self.path,
            chunk_rows=s.ingest_chunk, stats=True,
        )
        self.base = s.ingest_initial

    #: appends made by the warm-up, as operations -WARMUP .. -1
    WARMUP = 2

    def warmup(self, spark):
        for i in range(-self.WARMUP, 0):
            op = self.op(i)
            if not self.check(op, op.run(spark)):
                raise RuntimeError(
                    "ingest_append warm-up returned a wrong result"
                )

    def batch_start(self, i: int) -> int:
        return self.base + (i + self.WARMUP) * self.sizes.ingest_batch

    def op(self, i: int) -> Op:
        from arrow_zarr_spark.io import write_zarr

        s = self.sizes
        start = self.batch_start(i)
        stop = start + s.ingest_batch

        def run(spark):
            n = write_zarr(
                hash_frame(spark, start, stop, self.consts), self.path,
                chunk_rows=s.ingest_chunk, mode="append", stats=True,
            )
            return {"rows": n}

        return Op("append", run, s.ingest_batch,
                  expected={"rows": s.ingest_batch})

    def check(self, op: Op, result) -> bool:
        return int(result["rows"]) == op.expected["rows"]

    def batch_columns(self, i: int) -> Dict[str, np.ndarray]:
        """The NumPy values operation ``i`` appends, in store order."""
        start = self.batch_start(i)
        ids = np.arange(start, start + self.sizes.ingest_batch,
                        dtype=np.int64)
        return {"ts": ids, **hash_columns_np(ids, self.consts)}

    def total_rows(self, n_ops: int) -> int:
        return self.batch_start(n_ops - 1) + self.sizes.ingest_batch

    def verify(self, n_ops: int) -> List[int]:
        """Read the store back and compare every appended batch with its
        NumPy values; returns the indexes of batches found wrong (the
        initial rows and the warm-up batches count against operation 0)."""
        from arrow_zarr_spark.zarr import infer_store_arrays, open_store

        total = self.total_rows(n_ops)
        arrays = {
            a.meta.name: a for a in infer_store_arrays(open_store(self.path))
        }
        bad = set()
        if set(arrays) != {"ts", *TABLE_VARS}:
            return list(range(max(n_ops, 1)))
        if arrays["ts"].meta.shape != (total,):
            return list(range(max(n_ops, 1)))
        ids = np.arange(total, dtype=np.int64)
        consts = dict(zip(TABLE_VARS, self.consts))
        for name, arr in arrays.items():
            got = arr.read_all()
            if name == "ts":
                want = ids
            else:
                want = hash_column(ids, consts[name])
            for i in range(-self.WARMUP, n_ops):
                lo = 0 if i == -self.WARMUP else self.batch_start(i)
                hi = self.batch_start(i) + self.sizes.ingest_batch
                if not np.array_equal(got[lo:hi], want[lo:hi]):
                    bad.add(max(i, 0))
        return sorted(bad)

    def stores(self):
        return [self.path]

    def user_bytes(self, n_ops):
        return self.total_rows(n_ops) * 8 * (1 + len(TABLE_VARS))


WORKLOADS = {w.name: w for w in (ScanGrid, SelectPruned, IngestAppend)}
