"""``ZarrDataSource`` — Zarr v3 stores as Spark tables.

The Spark-native re-expression of the reference's DataFusion
``TableProvider`` (``/root/reference/crates/arrow-zarr/src/table/``):
everything relational is left to Catalyst; this source contributes
exactly what the reference contributes to DataFusion —

- schema inference from store metadata (A2, ``config.rs:201-258``)
- user-schema validation with the reference's error messages (A3,
  ``table_provider.rs:147-163``); a schema subset acts as projection
  (A4, ``table_provider.rs:264-287``)
- chunk-granular, *inexact* filter pushdown: prune chunks where no row
  can match, report every filter unhandled so Spark re-applies exact
  row filters (A5–A7, ``datafusion_filters.rs``, ``table_provider.rs:91-96``)
- filter-column read reuse (A6, ``zarr_data_stream.rs:943-963``)
- partitioned parallel scan over the chunk grid (A8,
  ``zarr_data_stream.rs:782-817``, ``scanner.rs:95-105``): one
  planner, ``ZarrReader.partitions``, emits contiguous cell-ordinal
  spans and runs one per-cell static-pruning test — on the driver for
  grids up to ``plan_cells_max`` cells, in the tasks past it
- reader-side prefetch with an I/O thread pool (A9/A10,
  ``zarr_data_stream.rs:631-714``, ``io_runtime.rs``)
- coordinate broadcast / Cartesian semantics inside the scan (A14)
- missing-chunk fill values and edge chunks (A12/A13)

Usage::

    from arrow_zarr_spark import register
    register(spark)
    df = spark.read.format("zarr").load("/path/to/store")
    spark.sql("CREATE TABLE z USING zarr OPTIONS (path '/path/to/store')")

Options: ``path``, ``columns`` (comma-separated projection),
``num_partitions`` (contiguous chunk-range split, reference
``repartitioned()`` semantics; default one Spark partition per chunk
— finer, and better for a 1000-executor cluster since Spark can
schedule and steal at chunk granularity), ``io_threads`` (per-task
decode pool), ``prefetch`` (chunk read-ahead depth),
``plan_cells_max`` (cell count above which the per-cell static
pruning moves from the driver into the tasks, so planning never
enumerates the grid; default ``PLAN_DRIVER_CELLS_MAX``), ``pushdown``
('false' disables
static pruning — the escape for relations/views reused by both
filtered and unfiltered queries, see ``ZarrReader.pushFilters``).
"""

from __future__ import annotations

import os
import sys
import threading
from collections import OrderedDict, deque
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Dict, Iterator, List, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    Filter,
    InputPartition,
)
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

from .filters import (
    ChunkPredicate,
    compile_chunk_filters,
    conjunction_mask,
    interval_possible,
)
from .zarr.array import ZarrArray, infer_store_arrays
from .zarr.meta import STATS_ATTR_KEY, ArrayMeta, ZarrFormatError
from .zarr.store import open_store
from .zarr.table import ChunkPlan, ordinal_to_cell

__all__ = [
    "ZarrDataSource",
    "register",
    "read_zarr",
    "zarr_spark_type",
    "zarr_arrow_type",
]


def zarr_spark_type(zarr_dtype: str) -> DataType:
    """Zarr→Spark type map (SURVEY §1.3; reference ``config.rs:261-282``).

    Spark has no unsigned ints: uint8/16/32 widen to the next signed
    type, uint64 → decimal(20,0) — documented divergence. datetime64
    (any supported unit) → TimestampNTZ: zarr datetimes are wall-clock
    counts with no zone, which is exactly Spark's NTZ semantics;
    microsecond is Spark's precision, so ns stores truncate sub-µs
    (documented, like the uint64 widening)."""
    if zarr_dtype.startswith("numpy.datetime64["):
        return TimestampNTZType()
    m = {
        "bool": BooleanType(),
        "int8": ByteType(),
        "int16": ShortType(),
        "int32": IntegerType(),
        "int64": LongType(),
        "uint8": ShortType(),
        "uint16": IntegerType(),
        "uint32": LongType(),
        "uint64": DecimalType(20, 0),
        "float32": FloatType(),
        "float64": DoubleType(),
        "string": StringType(),
    }
    try:
        return m[zarr_dtype]
    except KeyError:
        raise ZarrFormatError(f"Unsupported type {zarr_dtype} for zarr array")


def zarr_arrow_type(zarr_dtype: str) -> pa.DataType:
    """Arrow batch types matching :func:`zarr_spark_type` exactly."""
    if zarr_dtype.startswith("numpy.datetime64["):
        return pa.timestamp("us")  # Spark TimestampNTZ wire type
    m = {
        "bool": pa.bool_(),
        "int8": pa.int8(),
        "int16": pa.int16(),
        "int32": pa.int32(),
        "int64": pa.int64(),
        "uint8": pa.int16(),
        "uint16": pa.int32(),
        "uint32": pa.int64(),
        "uint64": pa.decimal128(20, 0),
        "float32": pa.float32(),
        "float64": pa.float64(),
        "string": pa.string(),
    }
    return m[zarr_dtype]


def _infer_struct(arrays: Sequence[ZarrArray]) -> StructType:
    # all fields nullable, as in the reference (config.rs:249-253)
    return StructType(
        [
            StructField(a.meta.name, zarr_spark_type(a.meta.zarr_dtype), True)
            for a in arrays
        ]
    )


#: Worker-process-wide cache for the task-side static-pruning
#: artifacts (decoded sidecar statistics blocks, coordinate bound
#: lists) — keyed by the per-scan token so the many tasks that
#: share a sidecar block fetch it once per worker, never per task,
#: and a later scan of a mutated store can't see stale bounds.
_SPAN_CACHE: "OrderedDict[tuple, object]" = OrderedDict()
_SPAN_CACHE_CAP = 128
#: entries are multi-MB decoded sidecar blocks invisible to Spark's
#: memory manager, so the LRU is bounded by BYTES as well as count
#: (the r11 ADVICE fix); 256 MiB is ~2 sidecar shards per executor
#: core at the default shard geometry
_SPAN_CACHE_MAX_BYTES = 256 * 1024 * 1024
_SPAN_CACHE_BYTES = 0
_SPAN_CACHE_SIZES: Dict[tuple, int] = {}
_SPAN_CACHE_LOCK = threading.Lock()


def _approx_bytes(val, _depth: int = 0) -> int:
    """Estimate a cache entry's retained bytes: ndarray buffers +
    container overhead, recursing two levels (sidecar blocks are
    dict/list-of-ndarray shaped)."""
    if isinstance(val, np.ndarray):
        return int(val.nbytes) + 96
    if isinstance(val, (bytes, bytearray)):
        return len(val) + 48
    if _depth < 3 and isinstance(val, dict):
        return 64 + sum(
            _approx_bytes(v, _depth + 1) + 64 for v in val.values()
        )
    if _depth < 3 and isinstance(val, (list, tuple)):
        return 64 + sum(_approx_bytes(v, _depth + 1) + 8 for v in val)
    return sys.getsizeof(val) if val is not None else 16


def _span_cached(key: tuple, compute):
    global _SPAN_CACHE_BYTES
    with _SPAN_CACHE_LOCK:
        if key in _SPAN_CACHE:
            _SPAN_CACHE.move_to_end(key)
            return _SPAN_CACHE[key]
    val = compute()  # outside the lock: duplicate fetches are benign
    size = _approx_bytes(val)
    with _SPAN_CACHE_LOCK:
        if key not in _SPAN_CACHE:
            _SPAN_CACHE_BYTES += size
            _SPAN_CACHE_SIZES[key] = size
        _SPAN_CACHE[key] = val
        _SPAN_CACHE.move_to_end(key)
        while _SPAN_CACHE and (
            len(_SPAN_CACHE) > _SPAN_CACHE_CAP
            or _SPAN_CACHE_BYTES > _SPAN_CACHE_MAX_BYTES
        ):
            old_key, _ = _SPAN_CACHE.popitem(last=False)
            _SPAN_CACHE_BYTES -= _SPAN_CACHE_SIZES.pop(old_key, 0)
            if old_key == key:  # the oversized newcomer itself
                break
    return val


def _decode_stat_bound(b, unit):
    """One statistics bound, decoded for the scan's single static-
    pruning test (driver and task placements alike): None propagates,
    datetime64 stats decode from their integer form, malformed values
    degrade to unknown (never prune)."""
    if b is None:
        return None
    if unit is not None:
        try:
            return np.datetime64(int(b), unit)
        except (TypeError, ValueError, OverflowError):
            return None
    return b


def _entry_bounds(entry, unit):
    """(lo, hi) from one per-object stats entry: anything not a
    well-formed pair is unknown."""
    if not (isinstance(entry, (list, tuple)) and len(entry) == 2):
        return (None, None)
    return (
        _decode_stat_bound(entry[0], unit),
        _decode_stat_bound(entry[1], unit),
    )


def _lattice_runs(keep, grid, budget):
    """Compose per-axis surviving grid-index sets into contiguous
    C-order cell-ordinal runs without enumerating cells — the past-cap
    coordinate pre-prune's arithmetic (pure; property-tested against
    the brute-force survivor set in tests/test_span_partitions.py).

    ``keep[ax]`` must be ascending. Returns a sorted, disjoint,
    maximally-merged [(start, stop), ...) list; ``[]`` when any axis
    keeps nothing; ``None`` when the run enumeration would exceed
    ``budget`` (callers fall back to unpruned spans)."""
    import itertools

    nd = len(grid)
    # unpruned axes arrive as lazy range objects (len() and product()
    # both work on them) so a skewed grid never materializes an
    # O(n_cells)-class index list on the driver; a step-1 range IS a
    # single contiguous run
    last = keep[-1]
    if isinstance(last, range) and last.step == 1:
        last_runs = [(last.start, len(last))] if len(last) else []
    else:
        last_runs = []  # (start, length) sub-runs of the last axis
        for i in last:
            if last_runs and i == last_runs[-1][0] + last_runs[-1][1]:
                last_runs[-1] = (last_runs[-1][0], last_runs[-1][1] + 1)
            else:
                last_runs.append((i, 1))
    n_outer = 1
    for ax in range(nd - 1):
        n_outer *= len(keep[ax])
    if n_outer * max(1, len(last_runs)) > budget:
        return None
    if n_outer == 0 or not last_runs:
        return []
    strides = [1] * nd
    for ax in range(nd - 2, -1, -1):
        strides[ax] = strides[ax + 1] * grid[ax + 1]
    runs = []
    # itertools.product over ascending keep lists yields combos in
    # ascending base order, so adjacent-run merging works in-pass
    for combo in itertools.product(*keep[:-1]):
        base = sum(c * strides[ax] for ax, c in enumerate(combo))
        for s, ln in last_runs:
            start, stop = base + s, base + s + ln
            if runs and runs[-1][1] == start:
                runs[-1] = (runs[-1][0], stop)
            else:
                runs.append((start, stop))
    return runs


#: Driver-side cell-enumeration cap for scan planning: at or under it
#: ``partitions()`` runs the static-pruning test on the driver and
#: ships only survivor runs. Past it the driver never enumerates cells
#: — partitions carry ordinal spans (O(n_partitions) driver memory
#: however large the grid) and each task runs the same test on its
#: own spans against worker-cached bounds.
PLAN_DRIVER_CELLS_MAX = 1 << 22

#: Scheduler-sanity cap on the partition count: a billion-cell store
#: must not emit a billion Spark tasks — partitions grow past this
#: instead.
SPAN_PARTITIONS_MAX = 1 << 20


def _pack_runs(runs, n_cells, chunks_per=1, n_parts=None):
    """Group sorted, disjoint cell-ordinal ``runs`` into per-partition
    span lists — the scan's one grouping policy. Runs split at
    partition boundaries, so the concatenated spans are the input
    ordinals in order.

    With ``n_parts``: the reference's ``repartitioned()`` split
    (``zarr_data_stream.rs:805-817``, over-partition test 1328-1363)
    — exactly ``n_parts`` partitions of ceil(N/p) cells over the N run
    cells, trailing ones empty. Otherwise each partition holds
    ``chunks_per`` cells, raised so a grid of ``n_cells`` never emits
    more than ``SPAN_PARTITIONS_MAX`` partitions; an empty scan is one
    empty partition."""
    if n_parts:
        per = max(1, -(-sum(e - s for s, e in runs) // n_parts))
    else:
        per = max(chunks_per, -(-n_cells // SPAN_PARTITIONS_MAX))
    parts: List[List[Tuple[int, int]]] = []
    cur: List[Tuple[int, int]] = []
    cur_n = 0
    for s, e in runs:
        while s < e:
            take = min(e - s, per - cur_n)
            cur.append((s, s + take))
            cur_n += take
            s += take
            if cur_n == per:
                parts.append(cur)
                cur, cur_n = [], 0
    if cur:
        parts.append(cur)
    if n_parts:
        parts += [[] for _ in range(n_parts - len(parts))]
    return parts or [[]]


@dataclass
class ZarrInputPartition(InputPartition):
    """One scan task's share of the chunk grid (picklable): sorted,
    disjoint [(start, stop), ...) C-order cell-ordinal ``spans`` of
    ``grid``, and ``prune`` — True when the task must still run the
    static-pruning test on them (grids past ``plan_cells_max``), False
    when the planner already reduced them to survivors."""

    spans: List[Tuple[int, int]]
    grid: Tuple[int, ...]
    prune: bool

    def __init__(self, spans, grid, prune):
        self.spans = spans
        self.grid = tuple(grid)
        self.prune = prune
        self.value = spans

    @property
    def cells(self) -> Optional[List[Tuple[int, ...]]]:
        """The partition's cells when planning fixed them; None when
        the task prunes (the list could then be grid-sized)."""
        if self.prune:
            return None
        return [
            ordinal_to_cell(o, self.grid)
            for s, e in self.spans
            for o in range(s, e)
        ]


class ZarrDataSource(DataSource):
    """Spark Python DataSource for Zarr v3 stores."""

    def __init__(self, options: Dict[str, str]):
        super().__init__(options)
        # NOTE: path validation is deferred to schema()/reader() — the
        # catalog instantiates data sources with empty options during
        # CREATE TABLE handling.
        self.path = options.get("path")
        self.icechunk = str(options.get("icechunk", "false")).lower() == "true"
        self.version = options.get("version")
        self.as_of = options.get("as_of")
        self.tag = options.get("tag")

    @classmethod
    def name(cls) -> str:
        return "zarr"

    def _arrays(self) -> List[ZarrArray]:
        if not self.path:
            raise ZarrFormatError(
                "zarr data source requires a path (load(path) or "
                "OPTIONS (path '...'))"
            )
        # Memoized per instance: Spark calls schema() and reader() in
        # the same planning pass, and each store walk is a full listing
        # plus one GET per zarr.json — it counts against remote stores.
        cached = getattr(self, "_arrays_cache", None)
        if cached is not None:
            return list(cached)
        store = open_store(self.path, icechunk=self.icechunk)
        if self.tag is not None:
            # named-release pinned read (the tag leg of the Icechunk
            # snapshot/branch/tag model the reference consumes,
            # config.rs:141-197): resolve the immutable name to its
            # version, then read through the same manifest path
            if self.version is not None or self.as_of is not None:
                raise ZarrFormatError(
                    "pass only one of version, as_of, tag"
                )
            from .zarr.versions import resolve_tag

            self.version = resolve_tag(self.path, str(self.tag))
        if self.as_of is not None:
            if self.version is not None:
                raise ZarrFormatError(
                    "pass either version or as_of, not both"
                )
            from .zarr.versions import resolve_as_of

            try:
                ts = int(str(self.as_of))
            except ValueError:
                raise ZarrFormatError(
                    f"as_of option must be a unix timestamp (int), got "
                    f"{self.as_of!r}"
                )
            self.version = resolve_as_of(self.path, ts)
        if self.version is not None:
            # pinned snapshot read (reference capability: Icechunk repos
            # at (branch, now), config.rs:141-197 — provided natively by
            # zarr/versions.py): every read resolves through the
            # version's manifest, so the scan sees the committed bytes
            # no matter how the live store mutated since. The view is
            # picklable; tasks inherit it with the arrays.
            from .zarr.versions import latest_version, open_version

            if str(self.version).lower() == "latest":
                v = latest_version(self.path)
            else:
                try:
                    v = int(str(self.version))
                except ValueError:
                    raise ZarrFormatError(
                        f"version option must be an integer or "
                        f"'latest', got {self.version!r}"
                    )
            store = open_version(self.path, v)
        arrays = infer_store_arrays(store)
        columns = self.options.get("columns")
        if columns:
            wanted = [c.strip() for c in str(columns).split(",") if c.strip()]
            by_name = {a.meta.name: a for a in arrays}
            missing = [c for c in wanted if c not in by_name]
            if missing:
                valid = ", ".join(f'"{a.meta.name}"' for a in arrays)
                raise ZarrFormatError(
                    f'Unable to get field named "{missing[0]}". '
                    f"Valid fields: [{valid}]"
                )
            arrays = [by_name[c] for c in wanted]
        self._arrays_cache = list(arrays)
        return arrays

    def schema(self) -> StructType:
        return _infer_struct(self._arrays())

    def writer(self, schema: StructType, overwrite: bool):
        """``df.write.format("zarr").save(path)`` — single-pass sink
        (staged chunks + driver commit; row order across tasks not
        preserved — see :mod:`arrow_zarr_spark.sinks`; use
        :func:`arrow_zarr_spark.io.write_zarr` for order-preserving
        writes)."""
        from .sinks import ZarrWriter

        if not self.path:
            raise ZarrFormatError("zarr writer requires a path")
        return ZarrWriter(self.path, schema, dict(self.options), overwrite)

    def reader(self, schema: StructType) -> "ZarrReader":
        arrays = self._arrays()
        by_name = {a.meta.name: a for a in arrays}
        # Validate a user-supplied schema the way the reference validates
        # DDL schemas (table_provider.rs:147-163 + error-path tests
        # table_provider.rs:440-486). A subset acts as projection.
        selected: List[ZarrArray] = []
        for field in schema.fields:
            if field.name not in by_name:
                valid = ", ".join(f'"{a.meta.name}"' for a in arrays)
                raise ZarrFormatError(
                    f'Unable to get field named "{field.name}". '
                    f"Valid fields: [{valid}]"
                )
            arr = by_name[field.name]
            expected = zarr_spark_type(arr.meta.zarr_dtype)
            if field.dataType != expected:
                raise ZarrFormatError(
                    f"Requested column {field.name}'s type does not match "
                    "data from store"
                )
            selected.append(arr)
        return ZarrReader(selected, schema, self.options)


class ZarrReader(DataSourceReader):
    def __init__(
        self,
        arrays: List[ZarrArray],
        schema: StructType,
        options: Dict[str, str],
    ):
        self.arrays = arrays
        self.schema = schema
        self.plan = ChunkPlan(arrays)
        # one token per scan, constructed driver-side and pickled into
        # every task: scopes the worker-wide coordinate-chunk cache so
        # partitions share fetches but later scans never see stale data
        import uuid

        self.plan.scan_token = uuid.uuid4().hex
        self.options = dict(options)
        self.predicates: List[ChunkPredicate] = []
        self.filter_columns: List[str] = []
        self.io_threads = int(options.get("io_threads", 4) or 4)
        self.prefetch_depth = int(options.get("prefetch", 2) or 2)
        self._arrow_schema = pa.schema(
            [
                pa.field(a.meta.name, zarr_arrow_type(a.meta.zarr_dtype))
                for a in arrays
            ]
        )

    # -- pushdown --------------------------------------------------------

    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        """Record prunable conjuncts; report EVERY filter unhandled so
        Spark applies exact row-level filtering above the scan — the
        reference's Inexact pushdown (``table_provider.rs:91-96``,
        exactness test ``table_provider.rs:401-438``).

        Spark 4.1 caveat (behavior pinned in
        tests/test_datasource.py::TestPushdownPlanReuse): the JVM
        caches the planned read per *relation* and the pushdown path
        overwrites that cache, so an UNFILTERED query re-using the same
        DataFrame object after a filtered one reuses the pruned plan
        (filtered queries always re-plan and are always correct).
        A TEMPORARY VIEW is one relation too, so the caveat spans SQL
        statements against the same view (r11 trace: the JVM plans
        once for the filtered statement and never re-enters Python
        for the later unfiltered one — no reader-side fix can exist).
        Re-loading the path (or re-creating the view) returns a fresh
        relation, and the ``pushdown=false`` option disables pruning
        entirely for DataFrames/views that must be reused both
        ways."""
        if str(self.options.get("pushdown", "true")).lower() == "false":
            self.predicates, self.filter_columns = [], []
            yield from filters
            return
        names = [a.meta.name for a in self.arrays]
        self.predicates, self.filter_columns = compile_chunk_filters(
            filters, names
        )
        yield from filters

    # -- statistics pruning ---------------------------------------------

    #: planning-time read budget for coordinate pruning: coordinates at
    #: or under this many elements are read ONCE at planning to derive
    #: per-chunk [min, max]; larger coordinates fall back to the
    #: dynamic executor-side filter phase. 1M elements = 8 MB of f64 —
    #: the axes of even a petabyte-scale grid store fit comfortably.
    _COORD_PRUNE_CAP = 1 << 20

    def _coord_bounds(self, needed) -> Dict[str, Tuple[int, list]]:
        """name -> (cell axis, per-grid-index (lo, hi)) for COORDINATE
        columns referenced by the pushed conjuncts — derived by reading
        the coordinate values themselves at planning time (coordinates
        are the axes: small by construction, and the read is capped).
        Works on ANY store — reference-written lat/lon grids included —
        because it needs no writer-recorded statistics. NaN bounds are
        safe as-is: every prune test in interval_possible is a positive
        comparison, which NaN fails, so NaN chunks are kept."""
        out: Dict[str, Tuple[int, list]] = {}
        cap = int(self.options.get("coord_prune_cap", self._COORD_PRUNE_CAP))
        for name, axis in self.plan.coord_axis.items():
            if name not in needed:
                continue
            arr = self.plan.by_name[name]
            if arr.meta.shape[0] > cap:
                continue
            if self.plan.kind == "all_coords":
                c = arr.meta.chunk_shape[0]
            else:
                c = self.plan._rep.meta.chunk_shape[axis]
            try:
                vals = arr.read_all()
            except ZarrFormatError:
                continue  # unreadable at planning: prune nothing
            n = self.plan.grid_shape[axis]
            blist = [
                (
                    vals[i * c : (i + 1) * c].min(),
                    vals[i * c : (i + 1) * c].max(),
                )
                for i in range(n)
            ]
            out[name] = (axis, blist)
        return out

    # -- partitioning ----------------------------------------------------

    def partitions(self) -> Sequence[ZarrInputPartition]:
        """Plan the scan as contiguous C-order cell-ordinal spans (the
        reference's contiguous chunk-grid split, A8,
        ``zarr_data_stream.rs:782-817``) under one static-pruning test,
        :meth:`_surviving`, whose only fork is WHERE it runs:

        - grids of at most ``plan_cells_max`` cells (default
          ``PLAN_DRIVER_CELLS_MAX``): on the driver, over every
          ordinal — partitions carry only survivor runs, so pruned
          cells cost no task;
        - larger grids: in the tasks, so the driver never enumerates
          cells (O(n_partitions) memory). The driver still pre-prunes
          per AXIS from coordinate bounds (:meth:`_span_coord_runs`).

        ``num_partitions`` ceil-splits the survivors with empty tails
        (reference ``repartitioned()`` semantics); past the cap it
        splits the FULL ordinal space, since survivors are unknown at
        planning — partition boundaries differ, results don't."""
        n = self.plan.n_cells
        # an option, not only the constant, so it reaches Spark's
        # planning worker — tests force task-side pruning with 0
        cap = int(
            self.options.get("plan_cells_max") or PLAN_DRIVER_CELLS_MAX
        )
        prune_in_task = n > cap
        n_opt = self.options.get("num_partitions")
        full = [(0, n)] if n else []
        if not prune_in_task:
            runs = self._survivor_runs(full)
        elif n_opt:
            runs = full
        else:
            runs = self._span_coord_runs()
            if runs is None:
                runs = full
        if n_opt:
            groups = _pack_runs(runs, n, n_parts=max(1, int(n_opt)))
        else:
            kept = sum(e - s for s, e in runs)
            groups = _pack_runs(runs, n, self._chunks_per_partition(kept))
        grid = self.plan.grid_shape
        return [ZarrInputPartition(g, grid, prune_in_task) for g in groups]

    def _chunks_per_partition(self, n_kept: int) -> int:
        """Cells per partition: the ``chunks_per_partition`` option, or
        auto-grouping over the ``n_kept`` cells the scan will read."""
        opt = self.options.get("chunks_per_partition")
        if opt:
            return max(1, int(opt))
        # Auto-grouping: one tiny chunk per Spark task wastes a
        # Python-worker round trip per chunk; one huge range starves
        # the scheduler. Target ~64k rows per task — on a cluster,
        # callers size explicitly via num_partitions or
        # chunks_per_partition.
        rows_per_cell = 1
        for c in (
            self.plan._rep.meta.chunk_shape
            if self.plan.kind == "data"
            else [a.meta.chunk_shape[0] for a in self.plan.arrays]
        ):
            rows_per_cell *= int(c)
        per = max(1, 65536 // max(rows_per_cell, 1))
        # floor of 1 partition per local core: each Python-DS task pays
        # a worker round trip, so fewer/bigger partitions beat 2x-cores
        # slack (measured 2x on the 512x512 bench store)
        min_parts = os.cpu_count() or 8
        if n_kept >= min_parts:
            per = min(per, max(1, n_kept // min_parts))
        return per

    def _survivor_runs(self, spans) -> List[Tuple[int, int]]:
        """The driver placement of the static-pruning test: ``spans``
        reduced to maximal runs of surviving ordinals."""
        sources = self._bound_sources(in_task=False)
        if not any(p.column in sources for p in self.predicates):
            return spans
        runs: List[Tuple[int, int]] = []
        for o, _cell in self._surviving(spans, sources):
            if runs and runs[-1][1] == o:
                runs[-1] = (runs[-1][0], o + 1)
            else:
                runs.append((o, o + 1))
        return runs

    #: past-cap pre-prune budget: the driver enumerates at most this
    #: many surviving ordinal RUNS (outer-lattice combos x last-axis
    #: sub-runs) before falling back to unpruned full-range spans —
    #: the bound that keeps past-cap planning O(n_partitions + runs),
    #: not O(n_cells), on any grid.
    SPAN_PRUNE_RUNS_MAX = 1 << 16

    def _span_coord_runs(self):
        """Driver-side coordinate pre-pruning for grids past the cap
        (r12): per-AXIS surviving grid-index sets from the SAME
        ``_coord_bounds`` + ``interval_possible`` tests the per-cell
        :meth:`_surviving` pass uses, composed into contiguous C-order
        ordinal runs WITHOUT enumerating cells.

        Legitimate under the no-O(n_cells)-driver-terms rule because
        coordinate bounds are per-axis — O(chunks per axis), the
        "axes ARE the metadata" class (and ``_coord_bounds`` is
        already capped at 1M elements per axis). Writer STATS remain
        task-side past the cap: their per-cell bound lists are exactly
        the O(n_cells) artifact the cap exists to keep off the driver.

        Returns ``None`` when nothing prunes (no predicates, no
        usable coordinate bounds, or the run enumeration would exceed
        ``SPAN_PRUNE_RUNS_MAX``) — callers then plan unpruned spans,
        and the task-side pass still skips the I/O. A pruned cell
        here is pruned by the SAME test the task-side pass applies, so
        results are identical either way. Returns ``[]`` for a
        provably empty scan."""
        if not self.predicates:
            return None
        needed = {p.column for p in self.predicates}
        axis_bounds = self._coord_bounds(needed)
        if not axis_bounds:
            return None
        grid = list(self.plan.grid_shape)
        nd = len(grid)
        # lazy ranges, NOT list(range(g)): on a skewed past-cap grid
        # (e.g. 16M x 4 chunks with a predicate on the small axis)
        # materializing every axis would be an O(n_cells)-class
        # driver list — only axes that actually have coordinate
        # bounds (O(chunks/axis), capped) ever become lists below
        keep = [range(g) for g in grid]
        pruned_any = False
        for name, (axis, blist) in axis_bounds.items():
            preds = [p for p in self.predicates if p.column == name]
            kept = [
                i
                for i in keep[axis]
                if all(
                    interval_possible(p, blist[i][0], blist[i][1])
                    for p in preds
                )
            ]
            if len(kept) < len(keep[axis]):
                pruned_any = True
            keep[axis] = kept
        if not pruned_any:
            return None
        return _lattice_runs(keep, grid, self.SPAN_PRUNE_RUNS_MAX)

    def _bound_sources(self, in_task: bool) -> Dict[str, object]:
        """Per-predicate-column bound accessors, each mapping
        (ordinal, cell) -> (lo, hi), for :meth:`_surviving`. Two bound
        sources compose:

        - writer-recorded per-object [min, max] statistics
          (``STATS_ATTR_KEY``), indexed by the C-order cell ordinal —
          1-D table stores and N-D grid stores alike. Trusted only
          when they match the live plan grid (stale stats never
          prune); malformed entries degrade to unknown.
        - COORDINATE values read at planning (:meth:`_coord_bounds`),
          indexed by the cell's axis position — any store, so the
          reference's own lat/lon query prunes statically too.

        Sidecar statistics load per placement. The driver pass
        (``in_task=False``) needs every block, so it fetches them
        concurrently through ``resolve_stats``, and one torn block
        leaves the whole column unknown. A task loads only the blocks
        its spans touch, and a torn block is unknown for its own
        cells. Task-side blocks and coordinate bound lists are
        worker-cached by the scan token so tasks share them."""
        needed = {p.column for p in self.predicates}
        plan_grid = tuple(self.plan.grid_shape)
        n_cells = self.plan.n_cells
        token = getattr(self.plan, "scan_token", "")
        sources: Dict[str, object] = {}
        for a in self.arrays:
            m = a.meta
            if (
                m.name not in needed
                or m.ndim != len(plan_grid)
                or tuple(m.chunk_grid_shape) != plan_grid
            ):
                continue
            s = m.attributes.get(STATS_ATTR_KEY)
            unit = None
            if m.zarr_dtype.startswith("numpy.datetime64["):
                unit = m.zarr_dtype[len("numpy.datetime64[") : -1]
            sidecar = False
            if isinstance(s, dict):
                # imported only for a possible sidecar marker: a fresh
                # planning worker would otherwise compile it every scan
                from .zarr.stats import (
                    is_sidecar_marker,
                    load_block,
                    resolve_stats,
                )

                sidecar = is_sidecar_marker(s) and s["n_entries"] == n_cells
                if sidecar and not in_task:
                    # a torn block resolves the whole column to None
                    s, sidecar = resolve_stats(a.store, m.name, s), False
            if isinstance(s, list):
                if len(s) != n_cells:
                    continue  # stale inline stats: never trusted

                def _inline(o, _cell, _entries=s, _u=unit):
                    return _entry_bounds(_entries[o], _u)

                sources[m.name] = _inline
            elif sidecar:
                be = int(s["block_entries"])

                def _sidecar(
                    o, _cell, _be=be, _store=a.store, _name=m.name,
                    _u=unit,
                ):
                    b = o // _be
                    blk = _span_cached(
                        (token, "stats", _name, b),
                        lambda: load_block(_store, _name, b),
                    )
                    if blk is None:
                        return (None, None)  # torn sidecar: unknown
                    i = o - b * _be
                    if i >= len(blk):
                        return (None, None)
                    return _entry_bounds(blk[i], _u)

                sources[m.name] = _sidecar
        for nm in needed - set(sources):
            if nm not in self.plan.coord_axis:
                continue
            entry = _span_cached(
                (token, "coord", nm),
                lambda _nm=nm: self._coord_bounds({_nm}).get(_nm),
            )
            if entry is None:
                continue  # over-cap / unreadable coordinate: no prune
            axis, blist = entry

            def _coord(_o, cell, _axis=axis, _blist=blist):
                return _blist[cell[_axis]]

            sources[nm] = _coord
        return sources

    def _surviving(
        self, spans, sources
    ) -> Iterator[Tuple[int, Tuple[int, ...]]]:
        """(ordinal, cell) for every cell of ``spans`` that the pushed
        conjuncts might match under ``sources``' bounds — the scan's one
        static-pruning test, run on the driver or in the task (see
        :meth:`partitions`). Zero chunk reads for excluded cells
        (parquet row-group semantics); the per-chunk row mask in
        :meth:`_load_cell` still runs for survivors. Conservative: a
        column without bounds, or a None/NaN bound, never prunes."""
        cell_of = self.plan.cell_of_ordinal
        preds = [p for p in self.predicates if p.column in sources]
        for start, stop in spans:
            for o in range(int(start), int(stop)):
                cell = cell_of(o)
                ok = True
                for p in preds:
                    lo, hi = sources[p.column](o, cell)
                    if not interval_possible(p, lo, hi):
                        ok = False
                        break
                if ok:
                    yield o, cell

    def _partition_cells(
        self, partition: ZarrInputPartition
    ) -> Iterator[Tuple[int, ...]]:
        """The cells :meth:`read` loads for ``partition``: its spans in
        order, through the static-pruning test when the planner left
        that to the task."""
        sources = self._bound_sources(in_task=True) if partition.prune else {}
        return (
            cell for _o, cell in self._surviving(partition.spans, sources)
        )

    # -- execution -------------------------------------------------------

    def _load_cell(
        self, cell: Tuple[int, ...]
    ) -> Optional[Dict[str, np.ndarray]]:
        """Filter phase then data phase for one chunk-grid cell, reusing
        decoded filter columns (``zarr_data_stream.rs:829-916``). The
        filter phase's row mask rides along into the data phase: sharded
        arrays use it to skip inner chunks with no surviving row (masked
        rows may then carry fill values, which is sound because every
        filter is reported unhandled and Spark re-applies them exactly —
        a masked row always fails one)."""
        cols: Dict[str, np.ndarray] = {}
        sel_mask = None
        if self.predicates:
            cols = self.plan.evaluate(cell, self.filter_columns)
            mask = conjunction_mask(self.predicates, cols)
            if mask is not None:
                if not mask.any():
                    return None
                if not mask.all():
                    sel_mask = mask
        remaining = [
            a.meta.name for a in self.arrays if a.meta.name not in cols
        ]
        if remaining:
            cols.update(self.plan.evaluate(cell, remaining, sel_mask=sel_mask))
        return cols

    _TARGET_BATCH_ROWS = 65536

    def _to_batch(self, col_parts: Dict[str, list]) -> pa.RecordBatch:
        pa_cols = []
        for field in self._arrow_schema:
            parts = col_parts[field.name]
            np_col = parts[0] if len(parts) == 1 else np.concatenate(parts)
            if pa.types.is_decimal(field.type):  # uint64 widening
                pa_cols.append(pa.array(np_col).cast(field.type))
            elif pa.types.is_timestamp(field.type):
                # datetime64[*] → µs; safe=False so ns stores truncate
                # sub-µs instead of erroring (the documented narrowing)
                pa_cols.append(
                    pa.array(np_col).cast(field.type, safe=False)
                )
            else:
                pa_cols.append(pa.array(np_col, type=field.type))
        return pa.RecordBatch.from_arrays(pa_cols, schema=self._arrow_schema)

    def read(
        self, partition: ZarrInputPartition
    ) -> Iterator[pa.RecordBatch]:
        """Stream the partition's chunk range.

        Decoded cells are coalesced into ~64k-row Arrow batches before
        crossing into the JVM — hundreds of 1k-row batches cost more in
        per-batch ingestion than the copies here (one chunk still never
        splits across batches, preserving the reference's chunk-order
        row layout)."""
        def cell_results():
            it = self._partition_cells(partition)
            first = next(it, None)
            if first is None:
                return
            if self.io_threads <= 1:
                yield self._load_cell(first)
                for cell in it:
                    yield self._load_cell(cell)
                return
            second = next(it, None)
            if second is None:  # single cell: skip the pool
                yield self._load_cell(first)
                return
            # Double-buffered prefetch: while batch k is being consumed
            # by Spark, chunks k+1..k+depth read/decode on the pool (the
            # reference's prefetch + I/O runtime,
            # zarr_data_stream.rs:631-714). ``prefetch`` is an exact
            # in-flight bound — submit ``first``, top up to depth, and
            # only refill AFTER a cell's result is consumed — so
            # prefetch=1 really does bound the task to one in-flight
            # decoded chunk (the r11 ADVICE floor-of-2 fix).
            queued = [second]  # already pulled for the singleton check

            def nxt_cell():
                return queued.pop() if queued else next(it, None)

            depth = max(1, self.prefetch_depth)
            with ThreadPoolExecutor(max_workers=self.io_threads) as pool:
                pending = deque((pool.submit(self._load_cell, first),))
                while len(pending) < depth:
                    nxt = nxt_cell()
                    if nxt is None:
                        break
                    pending.append(pool.submit(self._load_cell, nxt))
                while pending:
                    res = pending.popleft().result()
                    nxt = nxt_cell()
                    if nxt is not None:
                        pending.append(pool.submit(self._load_cell, nxt))
                    yield res

        names = [a.meta.name for a in self.arrays]
        buffered: Dict[str, list] = {n: [] for n in names}
        buffered_rows = 0
        for cols in cell_results():
            if cols is None:
                continue
            n_rows = len(next(iter(cols.values()))) if cols else 0
            if n_rows == 0:
                continue
            for n in names:
                buffered[n].append(cols[n])
            buffered_rows += n_rows
            if buffered_rows >= self._TARGET_BATCH_ROWS:
                yield self._to_batch(buffered)
                buffered = {n: [] for n in names}
                buffered_rows = 0
        if buffered_rows:
            yield self._to_batch(buffered)


def _ship_package(spark) -> None:
    """Make ``arrow_zarr_spark`` importable by every Spark Python worker
    (data-source planning workers AND executors), regardless of how the
    session was created: zip the package and addPyFile it. Needed
    because workers are separate processes that don't inherit the
    driver's ``sys.path``; harmless if PYTHONPATH already covers it."""
    sc = spark.sparkContext
    if getattr(sc, "_azs_shipped", False):
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_base = os.path.join(
        tempfile.gettempdir(), f"arrow_zarr_spark_pkg_{os.getpid()}"
    )
    zip_path = shutil.make_archive(
        zip_base, "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    sc.addPyFile(zip_path)
    sc._azs_shipped = True


def register(spark) -> None:
    """Register the zarr format on a SparkSession (and enable the
    Python-data-source filter pushdown it relies on)."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # static on some builds; get_spark() sets it at startup
    _ship_package(spark)
    spark.dataSource.register(ZarrDataSource)


def read_zarr(spark, path: str, columns: Optional[Sequence[str]] = None,
              **options):
    """Read a Zarr store, with the projection applied AT THE SCAN.

    ``columns`` matters at scale: PySpark's DataSourceReader API (4.1)
    has no column-pruning hook, so ``spark.read.format("zarr").load(p)
    .select("one_col")`` still decodes every array in the store — the
    reference gets pruning for free from DataFusion
    (``table_provider.rs:114-117``). Passing ``columns`` here forwards
    the projection as the reader's ``columns`` option, so unwanted
    arrays are never fetched or decoded. On a wide store this is the
    difference between reading one array and reading all of them
    (measured as the zarr_narrow_* bench pair).

    Any extra keyword becomes a reader option (``num_partitions``,
    ``io_threads``, ``prefetch``)."""
    register(spark)
    reader = spark.read.format("zarr")
    if columns:
        reader = reader.option("columns", ",".join(columns))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def read_zarr_many(
    spark,
    paths: Sequence[str],
    columns: Optional[Sequence[str]] = None,
    source_col: Optional[str] = None,
    **options,
):
    """Read MANY Zarr stores as one DataFrame — the store-per-day /
    store-per-shard layout that a 100-TB archive actually uses on an
    object store (one store per ingest period, each with its own
    chunk grid). The reference binds one store per table
    (table_provider.rs); here the union is the natural Spark form:
    each store contributes its own scan partitions, so parallelism is
    the SUM of the stores' chunk grids and Catalyst pushes filters
    into every member scan independently.

    Schemas must match exactly (name AND type) — a mismatching store
    fails fast with the offending path named, the same strictness the
    reference applies to DDL schema validation, rather than Spark's
    positional-union silent miscasts. ``source_col`` adds the
    store's INDEX in ``paths`` (int, deterministic — paths differ
    across machines, indexes don't). ``columns``/``options`` forward
    to every member scan (projection still prunes at each store)."""
    from pyspark.sql import functions as _F

    if not paths:
        raise ValueError("read_zarr_many: need at least one store path")
    dfs = []
    base_schema = None
    base_path = None
    for i, p in enumerate(paths):
        df = read_zarr(spark, p, columns=columns, **options)
        got = [(f.name, f.dataType) for f in df.schema.fields]
        if base_schema is None:
            base_schema, base_path = got, p
        elif got != base_schema:
            raise ValueError(
                f"read_zarr_many: store {p!r} has schema {got}, "
                f"which does not match {base_path!r}'s {base_schema}"
            )
        if source_col is not None:
            if source_col in df.columns:
                raise ValueError(
                    f"read_zarr_many: source_col {source_col!r} collides "
                    f"with a data column of store {p!r} — withColumn "
                    f"would silently overwrite it"
                )
            df = df.withColumn(source_col, _F.lit(i))
        dfs.append(df)
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out
