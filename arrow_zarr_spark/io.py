"""Distributed Zarr writer: DataFrame → Zarr v3 store.

The reference is read-only (its fixtures write with raw zarrs,
``/root/reference/crates/arrow-zarr/src/lib.rs:170-240``); a writer is
the north-star addition. Layout produced: one 1-D array per column,
uniform ``chunk_rows`` chunking — the no-coordinates store shape (F3)
that the reader round-trips.

Scale design (why two passes):

Zarr's regular chunk grid needs every row to know its *global* index,
but Spark partitions only know local order. So:

1. **Count pass** — one job computes per-partition row counts (a
   count-only scan; columnar sources prune to zero columns). The
   cumulative offsets fold into the write pass's plan as one array
   literal — thousands of longs, not data.
2. **Write pass** — pure-JVM expressions tag each row with
   ``offset[partition] + local_position`` (``spark_partition_id`` +
   the low 33 bits of ``monotonically_increasing_id``, its documented
   within-partition record number — no Python round trip of the data
   just to add a counter), rows are hash-shuffled on their target
   chunk id, and ``applyInPandas`` writes each chunk object directly
   from its executor. No driver data movement; the only full shuffle is the
   chunk-id co-location, which is unavoidable for a deterministic
   global layout and is exactly one pass over the data.

Frames at or under ``WRITE_DRIVER_ROWS_MAX`` rows (metadata-scale:
persisted-index signature/code stores, tiny appends) skip the write
pass's shuffle + Python stage entirely: the counted, persisted rows
are collected and the SAME chunk-writer closure runs driver-side —
byte-identical stores at ~1 s less fixed cost per verb (r14; guide §5:
these rows are driver metadata, and a real corpus never fits the cap).

The input is persisted between the two passes so both jobs observe the
same partitioning (recomputation of a nondeterministic upstream —
e.g. a shuffle with ties — could otherwise reorder rows).
"""

from __future__ import annotations

import json
import math
import os
from contextlib import contextmanager
from typing import Any, Dict, Iterator, List, Optional, Sequence

import numpy as np
import pandas as pd

from pyspark import StorageLevel, TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .zarr.meta import STATS_ATTR_KEY, ArrayMeta, ZarrFormatError
from .zarr.stats import StatsMerge
from .zarr.store import open_store
from .zarr.writer import write_chunk, write_root_group

#: Row cap for write_zarr's driver-side small-store fast path (r14):
#: frames at or under this many NEW rows are collected (they are
#: already persisted and counted) and written by the same chunk-writer
#: closure driver-side, skipping the chunk-id shuffle + applyInPandas
#: Python stage + commit collect — ~1 s of fixed cost per verb that
#: dominated every metadata-scale store write (persisted-index
#: centroid/scale/code/signature stores, small appends). 65536 rows =
#: one default chunk; at any real corpus size the distributed commit
#: runs unchanged (0 disables the fast path).
WRITE_DRIVER_ROWS_MAX = 65536

__all__ = [
    "write_zarr",
    "write_zarr_grid",
    "write_zarr_partitioned",
    "read_zarr_partitioned",
    "rechunk_zarr",
    "audit_zarr",
    "diff_zarr",
    "refresh_stats",
    "describe_zarr",
    "write_zarr_region",
    "add_zarr_arrays",
    "drop_zarr_array",
    "vacuum_zarr",
    "SPARK_TO_ZARR",
]

SPARK_TO_ZARR = {
    T.BooleanType(): "bool",
    T.ByteType(): "int8",
    T.ShortType(): "int16",
    T.IntegerType(): "int32",
    T.LongType(): "int64",
    T.FloatType(): "float32",
    T.DoubleType(): "float64",
    # Spark NTZ timestamps are microsecond wall-clock counts; the
    # inverse of the scan's datetime64 → TimestampNTZ mapping
    T.TimestampNTZType(): "numpy.datetime64[us]",
    # StringType → vlen-utf8 arrays (the scan's z14 path in reverse;
    # the reference rejects strings outright, config.rs:278-281)
    T.StringType(): "string",
}


def _zarr_dtype_for(field: T.StructField) -> str:
    try:
        return SPARK_TO_ZARR[field.dataType]
    except KeyError:
        raise ZarrFormatError(
            f"Column {field.name}: Spark type {field.dataType.simpleString()} "
            "has no Zarr mapping (numeric/boolean/string columns only)"
        )


def _np_dtype_for(field: T.StructField) -> np.dtype:
    from .zarr.meta import zarr_dtype_to_numpy

    return zarr_dtype_to_numpy(_zarr_dtype_for(field))


def _reject_nulls(values, dtype: np.dtype, name: str) -> np.ndarray:
    """Zarr has no null representation; converting a null to an int dtype
    silently yields INT64_MIN garbage — reject instead (datetimes: a
    NULL would silently become NaT/INT64_MIN, same class of bug;
    strings: a None would stringify to "None")."""
    if dtype.kind in ("i", "u", "b", "M", "O"):
        if pd.isna(values).any():
            raise ZarrFormatError(
                f"Column {name!r} contains NULLs; Zarr has no null "
                "representation — fillna()/dropna() before writing"
            )
    return np.asarray(values, dtype=dtype)


def _string_codecs(compression: str) -> list:
    """vlen-utf8 chain for string columns (zarr-python v3's layout —
    the same chain the scan's z14 path decodes)."""
    chain = [{"name": "vlen-utf8", "configuration": {}}]
    if compression == "zstd":
        chain.append(
            {"name": "zstd", "configuration": {"level": 3, "checksum": False}}
        )
    elif compression == "gzip":
        chain.append({"name": "gzip", "configuration": {"level": 5}})
    elif compression not in (None, "none", "raw"):
        raise ZarrFormatError(
            f"Unsupported writer compression {compression!r} for string "
            "columns (zstd, gzip, or none)"
        )
    return chain


def _codecs_for_field(
    field: T.StructField,
    chunk_rows: int,
    shard_chunks: Optional[int],
    compression: str,
) -> list:
    if field.dataType == T.StringType():
        return _string_codecs(compression)
    return _table_codecs(chunk_rows, shard_chunks, compression)


def _table_codecs(
    chunk_rows: int, shard_chunks: Optional[int], compression: str
) -> list:
    """Codec chain for a 1-D table column: plain chunks, or a
    ``sharding_indexed`` wrapper holding ``shard_chunks`` inner chunks
    per store object. Sharding is the object-count lever at 100 TB —
    a 64k-row chunk store is ~1.6M objects per column unsharded; with
    shard_chunks=64 it is ~25k — while readers keep chunk-granular
    pruning via the shard index (inner-chunk pruning, codecs.py)."""
    from .zarr.codecs import default_codecs

    if not shard_chunks or shard_chunks <= 1:
        return default_codecs(compression)
    return [
        {
            "name": "sharding_indexed",
            "configuration": {
                "chunk_shape": [int(chunk_rows)],
                "codecs": default_codecs(compression),
                "index_codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}},
                    {"name": "crc32c"},
                ],
                "index_location": "end",
            },
        }
    ]


def _attach_cell_positions(spark, df, dims, axes, chunk_shape, how="inner"):
    """Shared grid-writer addressing: broadcast-join each dim's
    (value → axis position) vocabulary onto ``df`` and derive the
    C-order flat chunk-cell ordinal as ``__cell``. Single source of
    truth for cell addressing across the grid write, append, and
    region-write paths. Returns ``(frame, grid)``; with ``how='left'``
    off-axis rows survive with null ``__pos_*``/``__cell`` so the
    caller can fail fast on them."""
    out = df
    for d in dims:
        pos_df = spark.createDataFrame(
            [(v, i) for i, v in enumerate(axes[d])], [d, f"__pos_{d}"]
        )
        out = out.join(F.broadcast(pos_df), d, how)
    grid = [
        -(-len(axes[d]) // int(cs)) for d, cs in zip(dims, chunk_shape)
    ]
    cell_expr = None
    for i, (d, cs) in enumerate(zip(dims, chunk_shape)):
        c = (F.col(f"__pos_{d}") / int(cs)).cast("long")
        cell_expr = c if cell_expr is None else cell_expr * grid[i] + c
    return out.withColumn("__cell", cell_expr), grid


def _validated_cell_frame(spark, df, dims, axes, chunk_shape, verb):
    """Shared validation protocol of the in-place grid verbs (region
    write, column add): LEFT-attach positions so off-axis rows survive
    as nulls, pin ONE evaluation of the (possibly expensive or
    nondeterministic) input with a localCheckpoint, and fail fast
    naming the off-axis row count. Returns (checkpointed frame, grid).
    The checkpoint blocks live until the RDD is garbage-collected —
    input-sized, one job's working set."""
    out, grid = _attach_cell_positions(
        spark, df, dims, axes, chunk_shape, how="left"
    )
    out = out.localCheckpoint(eager=True)
    null_pred = F.lit(False)
    for d in dims:
        null_pred = null_pred | F.col(f"__pos_{d}").isNull()
    n_bad = out.filter(null_pred).count()
    if n_bad:
        raise ZarrFormatError(
            f"{verb}: {n_bad} rows carry coordinate values not on the "
            f"store's axes (in-place writes never grow the grid; use "
            f"mode='append' with append_dim to extend)"
        )
    return out, grid


def _check_axes_match_shape(axes, dims, shape, verb):
    axes_shape = tuple(len(axes[d]) for d in dims)
    if axes_shape != tuple(shape):
        # same cross-check the grid-append validator performs: on an
        # inconsistent store, positions derived from the coordinate
        # arrays would silently address out-of-grid chunk keys
        raise ZarrFormatError(
            f"{verb}: coordinate axis lengths {axes_shape} != data "
            f"array shape {tuple(shape)} — store is inconsistent"
        )


def _decode_cell(cell, grid):
    """Inverse of the ``__cell`` encoding: flat C-order ordinal back to
    per-dim chunk indices."""
    idx = []
    rem = int(cell)
    for g in reversed(grid):
        idx.append(rem % g)
        rem //= g
    return tuple(reversed(idx))


def _local_offsets(pdf, dims, idx, chunk_shape):
    """Per-row within-chunk offsets for a cell's task batch."""
    return [
        pdf[f"__pos_{d}"].to_numpy() - i * cs
        for d, i, cs in zip(dims, idx, chunk_shape)
    ]


def _block_stat_pair(block, meta):
    """[lower, upper] bound pair covering a full materialized block."""
    return [
        _stat_encode(np.min(block), meta.dtype),
        _stat_encode(np.max(block), meta.dtype, upper=True),
    ]


def _fill_pairs(metas, fills) -> Dict[str, list]:
    """Each array's [lower, upper] pair for a cell without a chunk
    object: a scan materializes pure fill there, so the fill value IS
    the bound."""
    return {
        c: _block_stat_pair(np.asarray(fills[c], dtype=m.dtype), m)
        for c, m in metas.items()
    }


def _validate_append_target(
    store,
    schema,
    chunk_rows: int,
    compression: str = "zstd",
    shard_chunks: Optional[int] = None,
    zarr_format: int = 3,
) -> int:
    """Append must extend a layout-compatible 1-D store (chunk size,
    sharding, dtype, columns). Returns the existing row count. Unlike
    the format sink, a partial tail chunk is fine — the boundary chunk
    is merged in place."""
    from .zarr.array import infer_store_arrays_authoritative

    arrays = infer_store_arrays_authoritative(store)
    by_name = {a.meta.name: a for a in arrays}
    names = [f.name for f in schema.fields]
    if sorted(by_name) != sorted(names):
        raise ZarrFormatError(
            f"Append schema mismatch: store has {sorted(by_name)}, "
            f"writing {sorted(names)}"
        )
    unit = chunk_rows * (shard_chunks or 1)
    rows = by_name[names[0]].meta.shape[0]
    want_encoding = "v2" if zarr_format == 2 else "default"
    for f in schema.fields:
        m = by_name[f.name].meta
        if m.ndim != 1 or m.shape[0] != rows:
            raise ZarrFormatError("Append target must be a 1-D table store")
        if m.key_encoding != want_encoding:
            raise ZarrFormatError(
                f"Append zarr_format mismatch for {f.name!r}: store is "
                f"{'v2' if m.key_encoding == 'v2' else 'v3'}, append "
                f"requested zarr_format={zarr_format}"
            )
        if m.chunk_shape[0] != unit:
            raise ZarrFormatError(
                f"Append chunk_rows*shard_chunks {unit} != store object "
                f"size {m.chunk_shape[0]}"
            )
        if m.zarr_dtype != _zarr_dtype_for(f):
            raise ZarrFormatError(
                f"Append dtype mismatch for {f.name!r}: store has "
                f"{m.zarr_dtype}, writing {_zarr_dtype_for(f)}"
            )
        if zarr_format == 2:
            from .zarr.meta import parse_v2_array_meta
            from .zarr.writer import v2_array_docs

            zarray, _ = v2_array_docs(
                f.name,
                shape=(1,),
                chunk_shape=(unit,),
                dtype=_np_dtype_for(f),
                compression=compression,
            )
            expected = parse_v2_array_meta(
                f.name, json.dumps(zarray).encode()
            ).codecs
        else:
            expected = _codecs_for_field(
                f, chunk_rows, shard_chunks, compression
            )
        if m.codecs != expected:
            raise ZarrFormatError(
                f"Append codec mismatch for {f.name!r}: store uses "
                f"{m.codecs} — pass the store's compression/shard_chunks "
                "options"
            )
    return rows


def _stats_eligible(dtype: np.dtype) -> bool:
    return dtype.kind in "biufMO"


def _eligible(metas: Dict[str, ArrayMeta]) -> Dict[str, ArrayMeta]:
    """The arrays of ``metas`` that record statistics."""
    return {n: m for n, m in metas.items() if _stats_eligible(m.dtype)}


#: Per-array cap on how many per-object [min, max] entries live INLINE
#: in the array's attribute JSON (and the consolidated root). Inline
#: stats grow O(n_objects) — fine at shard granularity, but a
#: million-object array would put a multi-hundred-MB list in zarr.json
#: and every PLANNER would parse it on every query. Past the cap every
#: write verb stores the entries in sharded sidecar blocks
#: (``__stats__/<array>/<b>.json``, zarr/stats.py) behind a tiny marker
#: attribute — pruning survives ANY object count and the blocks load
#: lazily, only during a pruning pass, only for predicate columns. The
#: representation depends on the entry count alone; the one merge
#: (:func:`_merge_stats`) builds the entries on the driver when the
#: committed rows are already there, else in one task per changed
#: block, so no verb holds a per-object list on the driver past it.
#:
#: The reference records no statistics at all (opener.rs:171-173), so
#: this extension carries its own scale story.
STATS_MAX_OBJECTS = 65536


#: Tier CUTOVER for :func:`refresh_stats` (not a capability bound): at
#: or under it the recompute collects its per-object pairs (one
#: parallelize job, small-store latency) and :func:`_merge_stats`
#: merges them on the driver; past it the work list is ``spark.range``
#: over chunk ordinals, the pairs compute in ``mapInPandas`` tasks and
#: the merge runs in one task per sidecar block — no per-object list
#: ever materializes on the driver, so a billion-object third-party
#: store CAN be retrofitted.
STATS_GRID_MAX_OBJECTS = 1 << 22


#: string stats bound length — long documents would bloat the
#: metadata; a prefix stays a valid LOWER bound as-is, and the upper
#: bound rounds UP via prefix_successor (parquet's truncation rule)
_STR_STAT_LEN = 64


def _stat_encode(val, dtype: np.dtype, upper: bool = False):
    """One bound as a JSON-able value; None = unknown (never prunes).
    Floats use NaN-propagating min/max upstream, and a NaN bound
    encodes as None so NaN-contaminated objects are never pruned (and
    ``neq`` stats-pruning stays sound). datetime64 encodes as the raw
    epoch count in the array's own unit. Strings (vlen-utf8) truncate
    to ``_STR_STAT_LEN`` chars — the max additionally rounds up so
    the truncated pair still brackets every value."""
    if dtype.kind == "f":
        f = float(val)
        # NaN AND ±inf encode as unknown: json.dumps would emit the
        # non-RFC-8259 literals NaN/Infinity into zarr.json, making
        # the store unparseable to strict-JSON zarr readers
        return None if (math.isnan(f) or math.isinf(f)) else f
    if dtype.kind == "M":
        return int(np.asarray(val).view("i8"))
    if dtype.kind == "b":
        return bool(val)
    if dtype.kind == "O":
        from .filters import prefix_successor

        s = str(val)
        if len(s) <= _STR_STAT_LEN:
            return s
        cut = s[:_STR_STAT_LEN]
        return prefix_successor(cut) if upper else cut
    return int(val)


def _recorded_stats(store, names) -> Dict[str, object]:
    """Each named array's raw recorded statistics attribute (inline
    list, sidecar marker or None) — the old region of an append's
    merge; {} when the store's metadata cannot be read (the old
    entries are then unknown: sound, just unprunable)."""
    from .zarr.array import infer_store_arrays

    try:
        return {
            a.meta.name: a.meta.attributes.get(STATS_ATTR_KEY)
            for a in infer_store_arrays(store)
            if a.meta.name in names
        }
    except ZarrFormatError:
        return {}


def _written(rows) -> Dict[str, Dict[int, object]]:
    """Committed ``(cell, stats)`` rows as ``{array: {ordinal: pair}}``
    (``stats`` is the write task's JSON ``{array: [lo, hi]}``)."""
    out: Dict[str, Dict[int, object]] = {}
    for r in rows:
        for c, pair in json.loads(r["stats"]).items():
            out.setdefault(c, {})[int(r["cell"])] = pair
    return out


@contextmanager
def _commit_job(committed, want_stats: bool, on_driver: bool):
    """Run a verb's chunk-writing job exactly once and yield ``(rows
    written, committed stats)``. The stats follow where the statistics
    merge runs: ``{array: {ordinal: pair}}`` collected for the driver;
    the persisted frame of commit rows for the task placement (past
    STATS_MAX_OBJECTS — nothing object-sized reaches the driver, and
    the frame is unpersisted on exit); None with stats off, the row
    total then aggregating server-side."""
    if want_stats and on_driver:
        rows = committed.collect()
        yield sum(int(r["rows"]) for r in rows), _written(rows)
        return
    if want_stats:
        committed = committed.persist()
    try:
        total = committed.agg(F.sum("rows").alias("w")).first()["w"]
        yield int(total or 0), committed if want_stats else None
    finally:
        if want_stats:
            committed.unpersist()


def _merge_stats(
    spark, store, path, metas, merge, committed, olds=None, fills=None,
    complete=False,
) -> None:
    """Merge the statistics of ``metas``' arrays under the one rule of
    :func:`zarr.stats.merge_entries` and set each meta's
    ``STATS_ATTR_KEY`` (the caller publishes the metadata, last).

    Placement follows where the committed rows already are: a
    ``{array: {ordinal: pair}}`` dict builds on the driver, and so does
    a frame of ``(cell, stats)`` rows at or under STATS_MAX_OBJECTS
    (inline entries, a bounded collect); a frame past it builds in one
    task per changed sidecar block. ``olds`` holds each array's raw
    recorded attribute (the old region of ``merge``), ``fills`` the
    pair of unwritten new-region slots."""
    from .zarr import stats as S

    if not metas:
        return
    olds = olds or {}
    fills = fills or {}
    if isinstance(committed, DataFrame):
        if merge.n_entries > STATS_MAX_OBJECTS:
            values = _merge_stats_in_tasks(
                spark, store, path, merge, committed,
                {c: olds.get(c) for c in metas}, fills, complete,
            )
            for c, v in values.items():
                metas[c].attributes[STATS_ATTR_KEY] = v
            return
        committed = _written(committed.collect())
    for c, meta in metas.items():
        meta.attributes[STATS_ATTR_KEY] = S.store_merged(
            store, c, merge, committed.get(c, {}),
            S.RecordedStats(store, c, olds.get(c), merge.n_old),
            fills.get(c), STATS_MAX_OBJECTS, complete,
        )


def _merge_stats_in_tasks(
    spark, store, path, merge, committed, olds, fills, complete,
) -> Dict[str, Dict]:
    """Task placement of :func:`zarr.stats.merge_entries`: one task per
    changed sidecar block builds and writes that block for every array,
    so the driver holds only block counts. The blocks built are those
    holding a committed row plus every block from the first one an old
    sidecar cannot keep in place (see ``first_rebuilt_block``).

    A task reads the old block under its own key only. Where old
    entries come from other keys — ordinals move (a grid append along
    an inner axis) or the old sidecar used another block size — a
    first job copies each block's old run out and is checkpointed
    before any block is rewritten, so no task reads a key another task
    of the same job overwrites. ``localCheckpoint`` truncates lineage:
    a lost partition can never silently recompute from rewritten
    blocks; executor loss fails the write instead (a fault-tolerant
    deployment sets a reliable checkpoint dir and uses checkpoint()).
    Returns each array's sidecar marker."""
    from .zarr import stats as S

    blk = S.STATS_BLOCK_ENTRIES
    n = merge.n_entries
    n_blocks = -(-n // blk)
    recorded = {
        c: S.RecordedStats(store, c, v, merge.n_old) for c, v in olds.items()
    }
    firsts = {
        c: S.first_rebuilt_block(merge, r, blk) for c, r in recorded.items()
    }
    staged = [
        c for c, r in recorded.items() if S.reads_other_blocks(merge, r, blk)
    ]
    n_old = merge.n_old

    def stage_old_runs(batches):
        task_store = open_store(path)
        for pdf in batches:
            out = []
            for b in pdf["__blk"]:
                b = int(b)
                ords, _ = merge.old_ordinals(b * blk, min(n, (b + 1) * blk))
                ords = ords[ords >= 0]
                lo = int(ords[0]) if len(ords) else 0
                hi = int(ords[-1]) + 1 if len(ords) else 0
                for c in staged:
                    old = S.RecordedStats(task_store, c, olds[c], n_old)
                    out.append(
                        (b, c, lo, json.dumps([old[o] for o in range(lo, hi)]))
                    )
            yield pd.DataFrame(out, columns=["__blk", "col", "olo", "old"])

    def build_block(pdf: pd.DataFrame) -> pd.DataFrame:
        b = int(pdf["__blk"].iloc[0])
        task_store = open_store(path)
        written = _written(pdf[pdf["stats"].notna()].to_dict("records"))
        runs = {}
        if "col" in pdf:
            for c, lo, old in pdf[pdf["col"].notna()][
                ["col", "olo", "old"]
            ].itertuples(index=False):
                runs[c] = dict(enumerate(json.loads(old), int(lo)))
        for c in olds:
            if b < firsts[c] and not written:
                continue  # an unchanged block of an in-place sidecar
            old = (
                runs[c] if c in runs
                else S.RecordedStats(task_store, c, olds[c], n_old)
            )
            entries = S.merge_entries(
                merge, b * blk, min(n, (b + 1) * blk),
                written.get(c, {}), old, fills.get(c),
            )
            if complete:
                S.check_complete(entries, c)
            task_store.set(S.block_key(c, b), json.dumps(entries).encode())
        return pd.DataFrame({"blk": [b]})

    seeds = spark.range(min(firsts.values(), default=0), n_blocks).select(
        F.col("id").alias("__blk")
    )
    if staged:
        seeds = seeds.mapInPandas(
            stage_old_runs, "__blk long, col string, olo long, old string"
        ).localCheckpoint(eager=True)
    rows = committed.select(
        F.expr(f"cell div {int(blk)}").alias("__blk"), "cell", "stats"
    ).unionByName(seeds, allowMissingColumns=True)
    rows.groupBy("__blk").applyInPandas(build_block, "blk long").count()
    for c in olds:
        S.sweep_blocks(store, c, n_blocks)
    return {c: S.sidecar_marker(n_blocks, n, blk) for c in olds}


def _update_stats_in_place(store, path, metas, merge, written) -> None:
    """The statistics step of the in-place verbs (region write,
    upsert), run twice: before any chunk mutates with None pairs for
    the touched objects (invalidate first: new values under old bounds
    would let pruning drop updated rows, mid-job or with stats off),
    and after the last chunk lands with their recomputed pairs.
    ``written`` is ``{array: {ordinal: pair}}``; the merge is the
    identity remap, built on the driver (the rows are delta-sized) and
    touching only the sidecar blocks that hold a written slot.
    Republishes each array whose attribute changed (a sidecar marker
    does not), then the consolidated root."""
    dirty = False
    for c, meta in _eligible(metas).items():
        pairs = written.get(c)
        old = meta.attributes.get(STATS_ATTR_KEY)
        if not pairs or (
            old is None
            and (
                merge.n_entries > STATS_MAX_OBJECTS
                or all(p is None for p in pairs.values())
            )
        ):
            # nothing recorded: nothing stale to invalidate, and a
            # past-cap store stays stats-less (refresh_stats / a full
            # rewrite is the deliberate rebuild)
            continue
        _merge_stats(None, store, path, {c: meta}, merge, written, {c: old})
        if meta.attributes.get(STATS_ATTR_KEY) != old:
            store.set(f"{c}/zarr.json", json.dumps(meta.to_json()).encode())
            dirty = True
    if dirty:
        from .zarr.writer import consolidate_metadata

        consolidate_metadata(store)


def _clear_store(store, keep_staging: bool = False, spark=None) -> None:
    """Delete every live key (committed snapshots under ``.versions/``
    survive an overwrite — that is the point of versioning;
    vacuum_versions is the way to drop history deliberately).

    r10: with ``spark`` and a store past the maintenance cap the
    listing + deletes distribute (the same no-driver-key-list tier as
    the maintenance verbs — an overwrite of a multi-million-object
    store must not buffer its key list on the driver); below it, one
    incremental driver walk."""
    from .zarr import versions as _V
    from .zarr.versions import VERSIONS_PREFIX

    skip = (VERSIONS_PREFIX,) + (("__stage__",) if keep_staging else ())
    probe = (
        None
        if spark is None or not getattr(store, "root", None)
        else store.probe_keys(_V.MAINT_DRIVER_LIST_MAX, skip_prefixes=skip)
    )
    if spark is not None and probe is None and hasattr(store, "root"):
        path = store.root

        def sweep(keys):
            task_store = open_store(path)
            for k in keys:
                task_store.delete(k)
                yield 1

        _V._live_keys_rdd(
            spark, path, include_staging=not keep_staging
        ).mapPartitions(sweep).count()
        return
    keys = probe if probe is not None else list(store.walk_keys())
    for key in keys:
        if keep_staging and key.startswith("__stage__"):
            continue
        if key.startswith(VERSIONS_PREFIX):
            continue
        store.delete(key)


def _write_zarr_driver_rows(
    schema: T.StructType,
    rows: Sequence[tuple],
    path: str,
    chunk_rows: int = 65536,
    compression: str = "zstd",
    mode: str = "error",
    fill_value=0,
) -> int:
    """Driver-side twin of :func:`write_zarr` for METADATA-SCALE row
    lists already resident on the driver (persisted-index centroid /
    scale stores: tens of rows). Produces a BYTE-IDENTICAL store to
    ``write_zarr`` on a single-partition DataFrame of the same rows —
    same metas, same chunking (``eff_chunk = min(chunk_rows, n)``),
    same codec chain, same [min, max] statistics, same
    metadata-last publish order — without any Spark job (profiled
    r13: each tiny write_zarr call was a ~1 s persist + count job +
    shuffle + applyInPandas affair for a 16-row frame; optimization
    guide §5 — the driver should do no DATA work, but these rows ARE
    driver metadata). Byte equality is property-tested against
    write_zarr in tests/test_ivf_index.py.

    Supports the fresh-write surface those calls use: v3, unsharded,
    non-string columns, mode error/overwrite (append keeps the
    distributed path — boundary merges belong to write_zarr)."""
    if mode not in ("error", "overwrite"):
        raise ZarrFormatError(
            "_write_zarr_driver_rows supports mode 'error'/'overwrite' "
            f"only, got {mode!r} — use write_zarr for appends"
        )
    if chunk_rows <= 0:
        raise ZarrFormatError("chunk_rows must be positive")
    for field in schema.fields:
        _zarr_dtype_for(field)  # validate before any work
        if field.dataType == T.StringType():
            raise ZarrFormatError(
                "_write_zarr_driver_rows supports numeric/bool/datetime "
                "columns only — use write_zarr for string columns"
            )
    store = open_store(path)
    if store.exists("zarr.json") or store.exists(".zgroup"):
        if mode != "overwrite":
            raise ZarrFormatError(
                f"Store already exists at {path!r} (mode='error')"
            )
        _clear_store(store)
    total_rows = len(rows)
    eff_chunk = min(chunk_rows, max(total_rows, 1))
    metas = {
        field.name: ArrayMeta(
            name=field.name,
            shape=(total_rows,),
            chunk_shape=(eff_chunk,),
            zarr_dtype=_zarr_dtype_for(field),
            fill_value=fill_value,
            codecs=_codecs_for_field(field, eff_chunk, None, compression),
        )
        for field in schema.fields
    }
    n_units = -(-total_rows // eff_chunk) if total_rows else 0
    if total_rows:
        pdf = pd.DataFrame(
            rows, columns=[f.name for f in schema.fields]
        )
        written: Dict[str, Dict[int, list]] = {}
        for name, meta in metas.items():
            data = _reject_nulls(pdf[name].values, meta.dtype, name)
            for cid in range(n_units):
                part = data[cid * eff_chunk : (cid + 1) * eff_chunk]
                write_chunk(store, meta, (cid,), part)
                written.setdefault(name, {})[cid] = _block_stat_pair(
                    part, meta
                )
        _merge_stats(
            None, store, path, _eligible(metas), StatsMerge((n_units,)),
            written,
        )
    # metadata LAST (write_zarr's publish order): per-array docs, then
    # the consolidated root
    for name, meta in metas.items():
        store.set(f"{name}/zarr.json", json.dumps(meta.to_json()).encode())
    write_root_group(
        store,
        consolidated={name: meta.to_json() for name, meta in metas.items()},
    )
    return total_rows


def write_zarr(
    df: DataFrame,
    path: str,
    chunk_rows: int = 65536,
    columns: Optional[Sequence[str]] = None,
    compression: str = "zstd",
    mode: str = "error",
    fill_value=0,
    shard_chunks: Optional[int] = None,
    stats: bool = True,
    zarr_format: int = 3,
) -> int:
    """Write ``df``'s numeric/boolean columns as a Zarr v3 store.

    ``zarr_format=2`` writes the store as Zarr **v2** instead — the
    xarray-ecosystem interchange format (``.zarray``/``.zattrs``
    metadata, ``0.0``-style chunk keys, numcodecs compressor docs,
    consolidated ``.zmetadata``) — so third-party v2-only readers can
    consume engine output directly. v2 carries no sharding container
    and this engine's v2 surface has no vlen strings; both raise with
    the v3 path named. Everything else (append with boundary-chunk
    merge, per-object [min,max] statistics via ``.zattrs``, the
    distributed commit protocol) behaves identically, and the scan
    prunes a v2 store's objects from the same statistics.

    Returns the number of rows written. ``mode``: "error" (default),
    "overwrite", or "append" (extend an existing store in place — the
    boundary chunk merges old tail rows with new head rows, so appends
    need no chunk alignment; layout must otherwise match). Row order in
    the store is the DataFrame's partition order (partition 0's rows
    first, in-partition order preserved) — deterministic for sources
    with stable splits.

    ``shard_chunks`` packs that many ``chunk_rows`` chunks into one
    ``sharding_indexed`` store object per column; each Spark task then
    writes one shard (object count drops by the factor, the object-
    store lever at 100 TB) while readers keep chunk-granular pruning
    through the shard index.

    ``stats`` (default on) records per-store-object [min, max] in each
    array's metadata attributes (``STATS_ATTR_KEY``) — parquet-style
    statistics the scan uses to prune objects STATICALLY at planning
    time, before any chunk read (the reference stubs statistics,
    opener.rs:171-173). One [min, max] pair per object per column
    rides the existing per-object commit row. Appends merge:
    untouched objects keep their entries, the boundary object's pair
    is recomputed over merged data; appending to a stats-less store
    leaves old entries unknown (never pruned). Past
    ``STATS_MAX_OBJECTS`` store objects per array the entries move to
    sidecar blocks, merged in one task per changed block, so the
    consolidated metadata stays planning-readable and nothing
    object-sized reaches the driver."""
    if columns:
        df = df.select(*columns)
    for field in df.schema.fields:
        _zarr_dtype_for(field)  # validate before any work
    if chunk_rows <= 0:
        raise ZarrFormatError("chunk_rows must be positive")
    if shard_chunks is not None and shard_chunks < 1:
        raise ZarrFormatError("shard_chunks must be >= 1")
    has_strings = any(
        f.dataType == T.StringType() for f in df.schema.fields
    )
    if has_strings and shard_chunks and shard_chunks > 1:
        # a sharded numeric column's store-object grid is shard-sized
        # while vlen strings stay chunk-sized — the scan requires one
        # chunk grid across data arrays, so the mix is unreadable
        raise ZarrFormatError(
            "shard_chunks is not supported for stores with string "
            "columns (vlen data cannot share the sharded chunk grid)"
        )
    if zarr_format not in (2, 3):
        raise ZarrFormatError(
            f"zarr_format must be 2 or 3, got {zarr_format!r}"
        )
    if zarr_format == 2:
        if has_strings:
            raise ZarrFormatError(
                "zarr v2 writer supports numeric/bool/datetime columns "
                "only; use zarr_format=3 for string columns"
            )
        if shard_chunks and shard_chunks > 1:
            raise ZarrFormatError(
                "sharding (sharding_indexed) is a zarr v3 feature; "
                "v2 has no shard container — use zarr_format=3"
            )

    store = open_store(path)
    base_rows = 0
    if store.exists("zarr.json") or store.exists(".zgroup"):
        if mode == "append":
            base_rows = _validate_append_target(
                store, df.schema, chunk_rows, compression, shard_chunks,
                zarr_format,
            )
        elif mode != "overwrite":
            raise ZarrFormatError(
                f"Store already exists at {path!r} (mode='error')"
            )
        else:
            _clear_store(store, spark=df.sparkSession)

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # r14 small-frame probe (guide §5; VERDICT r13 item 2): ONE
        # limit-collect both decides the driver-side fast path and,
        # when it hits, already holds every row in order (CollectLimit
        # walks partitions in order, the same order the counts pass
        # would assign row indexes) — a metadata-scale write then
        # needs no counts job at all. The probe only fires when the
        # optimizer's size estimate says the frame could fit the row
        # cap at even 8 bytes/row (measured: an unconditional probe
        # taxed a 150k-row sharded write ~0.2 s scanning its first
        # partition); a frame that defeats the estimate but COUNTS
        # small still takes the fast path below via a collect of the
        # already-persisted rows.
        small_rows = offsets = None
        cap = 0
        if 0 < WRITE_DRIVER_ROWS_MAX:
            # limit() takes a Java int — clamp an unbounded cap
            cap = min(int(WRITE_DRIVER_ROWS_MAX), (1 << 31) - 2)
            try:
                est = int(
                    df._jdf.queryExecution()
                    .optimizedPlan()
                    .stats()
                    .sizeInBytes()
                )
            except Exception:
                est = None
            if est is not None and est <= cap * 8:
                probed = df.limit(cap + 1).collect()
                if len(probed) <= cap:
                    small_rows = probed
        if small_rows is None:
            # pass 1: per-partition counts -> global offsets (the
            # distributed path's row-index basis)
            counts = {
                r["pid"]: r["n"]
                for r in df.select(F.spark_partition_id().alias("pid"))
                .groupBy("pid")
                .agg(F.count("*").alias("n"))
                .collect()
            }
            offsets = []
            total_rows = base_rows  # positions continue after the base
            for pid in range((max(counts) + 1) if counts else 0):
                offsets.append(total_rows)
                total_rows += counts.get(pid, 0)
        else:
            total_rows = base_rows + len(small_rows)
        new_rows = total_rows - base_rows

        spark = df.sparkSession

        # appends must keep the existing chunk size (validated); fresh
        # writes may shrink the chunk to the data size
        eff_chunk = (
            chunk_rows
            if base_rows
            else min(chunk_rows, max(total_rows, 1))
        )
        # store-object unit: one chunk, or one shard of shard_chunks
        # chunks — the write task granularity either way
        unit = eff_chunk * (shard_chunks or 1)
        if zarr_format == 2:
            from .zarr.meta import parse_v2_array_meta
            from .zarr.writer import v2_array_docs

            v2_docs: Dict[str, tuple] = {}
            metas: Dict[str, ArrayMeta] = {}
            # xarray requires _ARRAY_DIMENSIONS on every v2 array to
            # assign dims; every table column shares the one row axis.
            # A column literally named like the dim would read back as
            # a coordinate (dimension_names == (own name,)), so dodge
            # collisions deterministically.
            dim_name = "row"
            col_names_set = {f.name for f in df.schema.fields}
            while dim_name in col_names_set:
                dim_name = "_" + dim_name
            for field in df.schema.fields:
                zarray, zattrs = v2_array_docs(
                    field.name,
                    shape=(total_rows,),
                    chunk_shape=(unit,),
                    dtype=_np_dtype_for(field),
                    fill_value=fill_value,
                    dimension_names=(dim_name,),
                    compression=compression,
                )
                v2_docs[field.name] = (zarray, zattrs)
                # the READ-side parser compiles the meta, so the chain
                # used to encode is exactly what readers of these docs
                # will derive
                metas[field.name] = parse_v2_array_meta(
                    field.name,
                    json.dumps(zarray).encode(),
                    json.dumps(zattrs).encode() if zattrs else None,
                )
        else:
            metas = {
                field.name: ArrayMeta(
                    name=field.name,
                    shape=(total_rows,),
                    chunk_shape=(unit,),
                    zarr_dtype=_zarr_dtype_for(field),
                    fill_value=(
                        ""
                        if field.dataType == T.StringType()
                        else fill_value
                    ),
                    codecs=_codecs_for_field(
                        field, eff_chunk, shard_chunks, compression
                    ),
                )
                for field in df.schema.fields
            }

        def publish_metadata():
            # metadata LAST: concurrent readers (incl. the zarr-stream
            # source) trust the advertised shape, so chunks must land
            # first; until then they see the consistent pre-append store.
            # The root doc carries every array's metadata consolidated
            # (one planning GET for readers) at zero extra write I/O —
            # the metas are already in hand.
            import json as _json

            if zarr_format == 2:
                from .zarr.writer import write_v2_metadata

                docs = {}
                for name, meta in metas.items():
                    zarray, zattrs = v2_docs[name]
                    zattrs = dict(zattrs)
                    if STATS_ATTR_KEY in meta.attributes:
                        zattrs[STATS_ATTR_KEY] = meta.attributes[
                            STATS_ATTR_KEY
                        ]
                    docs[name] = (zarray, zattrs)
                write_v2_metadata(store, docs)
                return
            for name, meta in metas.items():
                store.set(
                    f"{name}/zarr.json", _json.dumps(meta.to_json()).encode()
                )
            write_root_group(
                store,
                consolidated={
                    name: meta.to_json() for name, meta in metas.items()
                },
            )

        if new_rows == 0:
            if not base_rows:
                publish_metadata()  # create a valid empty store
            return 0

        col_names = [f.name for f in df.schema.fields]
        path_for_task = path
        metas_b = spark.sparkContext.broadcast(metas)
        base_rows_b = base_rows

        n_units = -(-total_rows // unit)
        old_units = -(-base_rows // unit)
        want_stats = bool(stats)
        # an append's boundary object is rewritten, so its slot takes
        # the committed pair like every new one
        merge = StatsMerge((n_units,), (old_units,) if old_units else None)
        olds = (
            _recorded_stats(store, set(col_names)) if old_units else {}
        )

        def record_stats(written):
            if want_stats:
                _merge_stats(
                    spark, store, path, _eligible(metas), merge, written,
                    olds,
                )

        if not want_stats:
            from .zarr.stats import delete_sidecar

            for name, meta in metas.items():
                # also drops an append target's now-stale stats in
                # either representation
                meta.attributes.pop(STATS_ATTR_KEY, None)
                delete_sidecar(store, name)

        def write_chunk_group(pdf: pd.DataFrame) -> pd.DataFrame:
            cid = int(pdf["__cid"].iloc[0])
            pdf = pdf.sort_values("__row_idx")
            task_store = open_store(path_for_task)
            # append-boundary object: rows already stored in this
            # chunk/shard are re-read and prepended, so the rewrite is
            # value-preserving even for concurrent readers (store.set
            # is an atomic replace; old metadata only covers old rows)
            start = max(0, base_rows_b - cid * unit)
            obj_stats = {}
            for name in col_names:
                meta = metas_b.value[name]
                data = _reject_nulls(pdf[name].values, meta.dtype, name)
                if 0 < start < unit:
                    from dataclasses import replace as _replace

                    from .zarr.array import ZarrArray

                    old_meta = _replace(meta, shape=(base_rows_b,))
                    existing = ZarrArray(task_store, old_meta).read_chunk(
                        (cid,)
                    )[:start]
                    data = np.concatenate([existing, data])
                write_chunk(task_store, meta, (cid,), data)
                if want_stats and _stats_eligible(meta.dtype):
                    # np.min/np.max propagate NaN -> encodes as None
                    obj_stats[name] = _block_stat_pair(data, meta)
            return pd.DataFrame(
                {
                    "cell": [cid],
                    "rows": [len(pdf)],
                    "stats": [json.dumps(obj_stats)],
                }
            )

        if small_rows is None and 0 < new_rows <= cap:
            # counted small although the size estimate said otherwise
            # (wide rows, opaque kernels): the rows are persisted and
            # counted — one cheap collect still buys the driver-side
            # write below
            small_rows = df.collect()
        if small_rows is not None:
            # r14 small-store fast path (guide §5 — the driver should
            # do no DATA work, but a metadata-scale frame IS driver
            # metadata; VERDICT r13 item 2): skip the counts job, the
            # chunk-id shuffle, the applyInPandas python stage and the
            # commit collect (profiled ~1 s of fixed cost per verb at
            # any frame size) and run the SAME write_chunk_group
            # closure driver-side over the already-collected rows —
            # byte parity with the distributed path holds by
            # construction (one code path) and is property-tested
            # across chunking regimes, appends, sharding, v2 and
            # string/datetime columns. The cap bounds driver memory
            # (a real corpus never qualifies and keeps the
            # distributed commit below).
            loc = pd.DataFrame(small_rows, columns=col_names)
            loc["__row_idx"] = np.arange(
                base_rows, total_rows, dtype=np.int64
            )
            loc["__cid"] = (loc["__row_idx"] // unit).astype(np.int64)
            result_rows = [
                write_chunk_group(g).iloc[0]
                for _, g in loc.groupby("__cid", sort=True)
            ]
            written = int(sum(int(r["rows"]) for r in result_rows))
            if written != new_rows:
                raise ZarrFormatError(
                    f"write_zarr wrote {written} rows, expected "
                    f"{new_rows}"
                )
            record_stats(_written(result_rows))
        else:
            # pass 2: global index -> chunk co-location -> chunk
            # writes. The global row index is computed in PURE JVM
            # expressions (r13, optimization guide §4):
            # monotonically_increasing_id() is documented as
            # (partition id << 33) | record number within the
            # partition, so ``offsets[pid] + (mid & (2^33-1))`` is
            # exactly the old mapInPandas assign_index — without
            # shipping every data column through an Arrow round trip
            # just to append one counter column. Rows always satisfy
            # pid < len(offsets) (offsets covers every counted
            # partition; empty partitions contribute no rows); the
            # coalesce(…, raise_error) guard fails loudly if that
            # invariant ever broke, with OR WITHOUT ANSI mode (plain
            # element_at out-of-range is an error only under ANSI —
            # with ANSI off it would be a silent NULL row index). The
            # offsets fold into the plan as ONE array literal
            # (a single F.lit py4j call, r14 ADVICE).
            off_arr = F.lit([int(o) for o in offsets])
            indexed = df.withColumn(
                "__row_idx",
                (
                    F.coalesce(
                        F.element_at(
                            off_arr, F.spark_partition_id() + F.lit(1)
                        ),
                        F.raise_error(
                            F.lit(
                                "write_zarr: row in a partition the "
                                "count pass never saw — offsets "
                                "invariant broken"
                            )
                        ),
                    )
                    + F.monotonically_increasing_id().bitwiseAND(
                        F.lit((1 << 33) - 1)
                    )
                ).cast("long"),
            )
            with_cid = indexed.withColumn(
                "__cid", (F.col("__row_idx") / unit).cast("long")
            )
            committed = with_cid.groupBy("__cid").applyInPandas(
                write_chunk_group, schema="cell long, rows long, stats string"
            )
            with _commit_job(
                committed, want_stats, n_units <= STATS_MAX_OBJECTS
            ) as (written, stats_rows):
                if written != new_rows:
                    raise ZarrFormatError(
                        f"write_zarr wrote {written} rows, expected "
                        f"{new_rows}"
                    )
                record_stats(stats_rows)
        publish_metadata()
        return written
    finally:
        df.unpersist()


def _fill_values_equal(a, b, np_dtype) -> bool:
    """Fill equality as MATERIALIZED (both NaN counts as equal)."""
    try:
        av = np.asarray(a, dtype=np_dtype)
        bv = np.asarray(b, dtype=np_dtype)
    except (TypeError, ValueError):
        return False
    if av == bv:
        return True
    return bool(av != av) and bool(bv != bv)  # NaN == NaN here


def _validate_grid_append_target(
    store, dims, data_cols, chunk_shape, np_dtypes, append_dim,
    compression, fill_value, shard_shape=None,
):
    """(See body.) Returns (old_axes, old_stats, shard_shape) — the
    shard shape is inferred from the store's own layout when the
    caller omits it, so appending to a sharded store does not require
    re-specifying shard_shape (mirroring ALTER ADD's donor
    inheritance)."""
    """Append must extend a layout-compatible grid store along
    ``append_dim``: same arrays, same chunk grid, same dtypes, same
    dimension order — and, because the append REPUBLISHES every
    array's metadata while leaving untouched chunk bytes in place,
    the same codec chain and fill value too (a compression or fill
    mismatch here would silently re-describe old objects it never
    rewrote). Returns (old_axes, old_stats) — the existing coordinate
    values per dim and each data array's per-cell stats entry list
    (or None)."""
    from .zarr.array import infer_store_arrays_authoritative
    from .zarr.writer import build_array_meta

    arrays = {
        a.meta.name: a for a in infer_store_arrays_authoritative(store)
    }
    want = sorted(set(dims) | set(data_cols))
    if sorted(arrays) != want:
        raise ZarrFormatError(
            f"Grid append schema mismatch: store has {sorted(arrays)}, "
            f"writing {want}"
        )
    if shard_shape is None:
        m0 = arrays[data_cols[0]].meta
        if m0.codecs and m0.codecs[0].get("name") == "sharding_indexed":
            shard_shape = tuple(int(x) for x in m0.chunk_shape)

    def check_layout(name, m, chunk, dim_names, shard=None,
                     check_fill=True):
        fv = (
            fill_value.get(name, 0)
            if isinstance(fill_value, dict)
            else fill_value
        )
        expected = build_array_meta(
            name,
            shape=m.shape,
            chunk_shape=chunk,
            dtype=np_dtypes[name],
            fill_value=fv,
            dimension_names=dim_names,
            compression=compression,
            shard_shape=shard,
        )
        if m.zarr_dtype != expected.zarr_dtype:
            raise ZarrFormatError(
                f"Grid append dtype mismatch for {name!r}: store has "
                f"{m.zarr_dtype}, writing {expected.zarr_dtype}"
            )
        if tuple(m.chunk_shape) != tuple(expected.chunk_shape):
            raise ZarrFormatError(
                f"Grid append: {name!r} chunk shape {m.chunk_shape} != "
                f"requested {tuple(expected.chunk_shape)}"
            )
        if m.codecs != expected.codecs:
            raise ZarrFormatError(
                f"Grid append codec mismatch for {name!r}: store uses "
                f"{m.codecs} — pass the store's compression option"
            )
        if check_fill and not _fill_values_equal(
            m.fill_value, expected.fill_value, np_dtypes[name]
        ):
            raise ZarrFormatError(
                f"Grid append fill_value mismatch for {name!r}: store "
                f"has {m.fill_value!r}, append requested "
                f"{expected.fill_value!r} — untouched objects were "
                f"padded with the store's fill"
            )

    old_axes = {}
    coord_cs = shard_shape or chunk_shape  # coords align to the object grid
    for d, cs in zip(dims, coord_cs):
        m = arrays[d].meta
        if m.ndim != 1:
            raise ZarrFormatError(
                f"Grid append: coordinate {d!r} is not 1-D in the store"
            )
        # coordinate fill is never materialized (axes are dense) —
        # layout must match, the fill value need not
        check_layout(d, m, (int(cs),), (d,), check_fill=False)
        # tolist(): python scalars, so axis values compare/serialize
        # like the DataFrame-collected ones on the fresh path
        old_axes[d] = arrays[d].read_all().tolist()
    old_shape = tuple(len(old_axes[d]) for d in dims)
    old_stats = {}
    for c in data_cols:
        m = arrays[c].meta
        if tuple(m.shape) != old_shape:
            raise ZarrFormatError(
                f"Grid append: data array {c!r} shape {m.shape} does not "
                f"match the coordinate axes {old_shape}"
            )
        if m.dimension_names != tuple(dims):
            raise ZarrFormatError(
                f"Grid append: {c!r} dimension names {m.dimension_names} "
                f"!= {tuple(dims)}"
            )
        check_layout(
            c, m, tuple(int(x) for x in chunk_shape), tuple(dims),
            shard=shard_shape,
        )
        # RAW attribute value (inline list / sidecar marker / None):
        # the statistics merge reads old sidecar blocks one at a time,
        # so the full entry list never materializes on the driver
        old_stats[c] = m.attributes.get(STATS_ATTR_KEY)
    return old_axes, old_stats, shard_shape


def write_zarr_grid(
    df: DataFrame,
    path: str,
    dims: Sequence[str],
    chunk_shape: Sequence[int],
    compression: str = "zstd",
    mode: str = "error",
    fill_value=0,
    stats: bool = True,
    append_dim: Optional[str] = None,
    shard_shape: Optional[Sequence[int]] = None,
) -> int:
    """Write a coordinate-gridded DataFrame as an N-D Zarr store — the
    inverse of the reader's coordinate broadcast (A14). ``stats``
    records per-CELL [min, max] for the data arrays (C-order cell
    list; cells absent from the DataFrame bound to the fill value
    they materialize as) so data-column predicates prune grid cells
    at planning time, composing with coordinate pruning.

    ``dims`` names the coordinate columns; every other numeric column
    becomes an N-D data array over the Cartesian grid of the sorted
    distinct coordinate values. Cells absent from the DataFrame stay at
    the fill value (the reader materializes them back, so a sparse
    frame round-trips losslessly up to fill-cells). Reading this store
    back broadcasts the 1-D coordinates over the data arrays again.

    ``mode="append"`` with ``append_dim`` extends an existing grid
    store along ONE dimension (xarray's ``to_zarr(append_dim=...)``,
    the daily-ingestion shape: new time slices join the hypercube in
    place). The new batch's ``append_dim`` values must sort strictly
    after the existing axis; the other dims' values must already be on
    their axes (a new latitude mid-append would mean rewriting every
    chunk — rejected, as xarray does). Zarr stores chunks padded to
    full chunk shape, so old boundary objects stay valid under the
    grown shape — untouched cells are never rewritten, boundary cells
    that receive rows are read-merged, and metadata (coordinates
    included) publishes only after every chunk lands, so concurrent
    readers see the consistent pre-append store until then. Per-cell
    statistics merge: old cells keep entries (boundary cells' bounds
    union with the fill the extension materializes), written cells
    recompute, absent new cells bound to fill.

    Scale shape: the coordinate vocabularies are collected (they are
    the *axes* — small by construction; a 100k x 100k grid is two 100k
    collects), positions attach via broadcast joins, rows shuffle once
    on their target chunk cell, and each cell's chunk objects are
    written executor-side with scatter into the chunk block.
    """
    dims = list(dims)
    if not dims:
        raise ZarrFormatError("write_zarr_grid needs at least one dim")
    if len(dims) != len(chunk_shape):
        raise ZarrFormatError("chunk_shape must have one entry per dim")
    if shard_shape is not None and len(shard_shape) != len(dims):
        raise ZarrFormatError("shard_shape must have one entry per dim")
    data_cols = [f.name for f in df.schema.fields if f.name not in dims]
    if not data_cols:
        raise ZarrFormatError("no data columns besides dims")
    for field in df.schema.fields:
        _zarr_dtype_for(field)

    store = open_store(path)
    appending = mode == "append"
    old_axes = old_stats = None
    if appending:
        if append_dim is None or append_dim not in dims:
            raise ZarrFormatError(
                f"mode='append' needs append_dim naming one of dims "
                f"{dims}, got {append_dim!r}"
            )
        if not store.exists("zarr.json"):
            if store.exists(".zgroup"):
                raise ZarrFormatError(
                    f"Grid append target at {path!r} is a Zarr v2 "
                    "store; the grid writer appends to v3 stores only"
                )
            raise ZarrFormatError(
                f"Grid append target missing at {path!r}"
            )
        np_dtypes_all = {
            f.name: _np_dtype_for(f) for f in df.schema.fields
        }
        old_axes, old_stats, shard_shape = _validate_grid_append_target(
            store, dims, data_cols, chunk_shape, np_dtypes_all,
            append_dim, compression, fill_value,
            shard_shape=shard_shape,
        )
    elif store.exists("zarr.json") or store.exists(".zgroup"):
        if mode != "overwrite":
            raise ZarrFormatError(
                f"Store already exists at {path!r} (mode='error')"
            )
        _clear_store(store, spark=df.sparkSession)

    spark = df.sparkSession

    # axes: sorted distinct coordinate values (collected — they are the
    # grid axes, orders of magnitude smaller than the data)
    axes = {}
    if appending:
        for d in dims:
            new_vals = [
                r[0] for r in df.select(d).distinct().orderBy(d).collect()
            ]
            if d == append_dim:
                old_ax = old_axes[d]
                if old_ax and new_vals and not (new_vals[0] > old_ax[-1]):
                    raise ZarrFormatError(
                        f"Grid append along {d!r} must extend the axis: "
                        f"new minimum {new_vals[0]!r} is not after the "
                        f"existing maximum {old_ax[-1]!r}"
                    )
                axes[d] = list(old_ax) + new_vals
            else:
                known = set(old_axes[d])
                extra = [v for v in new_vals if v not in known]
                if extra:
                    raise ZarrFormatError(
                        f"Grid append: {d!r} values {extra[:5]} are not "
                        f"on the existing axis (appends extend only "
                        f"{append_dim!r})"
                    )
                axes[d] = list(old_axes[d])
    else:
        for d in dims:
            axes[d] = [
                r[0] for r in df.select(d).distinct().orderBy(d).collect()
            ]
    shape = tuple(len(axes[d]) for d in dims)

    from .zarr.writer import build_array_meta, write_array_data

    metas: Dict[str, ArrayMeta] = {}
    coord_metas: Dict[str, ArrayMeta] = {}
    np_dtypes = {
        field.name: _np_dtype_for(field) for field in df.schema.fields
    }
    # the scan aligns coordinate chunking with the data arrays' store
    # OBJECT grid per dim — with sharding that is the shard shape
    coord_cs = tuple(int(x) for x in (shard_shape or chunk_shape))
    # fill is per-DATA-column (dict {col: fill} or one scalar for
    # all); coordinate arrays are dense by construction, their fill is
    # never materialized — 0 keeps it serializable for any axis dtype
    # (a string data fill like "" cannot coerce to an int64 axis)
    if isinstance(fill_value, dict):
        unknown = set(fill_value) - set(data_cols)
        if unknown:
            raise ZarrFormatError(
                f"fill_value names no such data columns: "
                f"{sorted(unknown)} (data columns: {sorted(data_cols)})"
            )
    fills = {
        c: (
            fill_value.get(c, 0)
            if isinstance(fill_value, dict)
            else fill_value
        )
        for c in data_cols
    }
    for d, cs in zip(dims, coord_cs):
        coord_metas[d] = build_array_meta(
            d,
            shape=(len(axes[d]),), chunk_shape=(int(cs),),
            dtype=np_dtypes[d], fill_value=0,
            dimension_names=(d,), compression=compression,
        )
    for c in data_cols:
        metas[c] = build_array_meta(
            c,
            shape=shape, chunk_shape=tuple(int(x) for x in chunk_shape),
            dtype=np_dtypes[c], fill_value=fills[c],
            dimension_names=tuple(dims), compression=compression,
            shard_shape=shard_shape,
        )
        try:
            metas[c].to_json()
        except (ValueError, TypeError) as exc:
            raise ZarrFormatError(
                f"fill_value {fills[c]!r} is not representable in "
                f"column {c!r} ({np_dtypes[c]}): {exc}"
            ) from None
        # the runtime fill (block pre-fill, absent-cell stats) is the
        # meta's CANONICAL fill — build_array_meta coerces (e.g. a
        # non-str fill on a string array becomes ""), and what readers
        # materialize is the declared fill, not the raw argument
        if metas[c].fill_value is not None:
            fills[c] = metas[c].fill_value
    # the unit of work is the store OBJECT: with sharding the object
    # grid is the SHARD grid (meta.chunk_shape is the outer shape) —
    # each task writes one sharding_indexed object of many inner
    # chunks, the object-count lever for N-D stores; readers keep
    # inner-chunk pruning via the shard index
    cell_shape = tuple(int(x) for x in metas[data_cols[0]].chunk_shape)
    if not appending:
        # fresh write: metadata up front (the coordinate arrays are
        # driver-side); appends defer ALL metadata until data lands
        write_root_group(store)
        for d in dims:
            store.set(
                f"{d}/zarr.json",
                json.dumps(coord_metas[d].to_json()).encode(),
            )
            write_array_data(
                store, coord_metas[d],
                np.asarray(axes[d], dtype=np_dtypes[d]),
            )
        for c in data_cols:
            store.set(
                f"{c}/zarr.json", json.dumps(metas[c].to_json()).encode()
            )

    # positions via broadcast joins, then the flat cell id — one
    # shuffle to co-locate cells (shared with the region-write path)
    out, grid = _attach_cell_positions(spark, df, dims, axes, cell_shape)

    metas_b = spark.sparkContext.broadcast(metas)
    chunk_shape_t = cell_shape
    dims_t = list(dims)
    data_cols_t = list(data_cols)
    grid_t = list(grid)
    fills_t = dict(fills)
    # append: cells overlapping the old region read-merge the existing
    # chunk (padded-full objects make this exact; A13 fills absentees)
    ax_i = dims.index(append_dim) if appending else None
    old_shape_t = (
        tuple(len(old_axes[d]) for d in dims) if appending else None
    )

    # write_cell closes over want_stats: never reassign it below (a
    # persisted-partition recompute re-serializes the closure)
    want_stats = bool(stats)
    if not want_stats:
        from .zarr.stats import delete_sidecar

        for name, meta in metas.items():
            meta.attributes.pop(STATS_ATTR_KEY, None)
            delete_sidecar(store, name)

    def write_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(pdf["__cell"].iloc[0])
        idx = _decode_cell(cell, grid_t)
        task_store = open_store(path)
        local = _local_offsets(pdf, dims_t, idx, chunk_shape_t)
        cell_stats = {}
        for c in data_cols_t:
            meta = metas_b.value[c]
            valid = meta.valid_chunk_shape(idx)
            block = np.full(valid, fills_t[c], dtype=meta.dtype)
            if (
                old_shape_t is not None
                and idx[ax_i] * chunk_shape_t[ax_i] < old_shape_t[ax_i]
            ):
                from dataclasses import replace as _replace

                from .zarr.array import ZarrArray

                old_meta = _replace(meta, shape=old_shape_t)
                old_block = ZarrArray(task_store, old_meta).read_chunk(idx)
                block[tuple(slice(0, s) for s in old_block.shape)] = (
                    old_block
                )
            block[tuple(local)] = _reject_nulls(
                pdf[c].to_numpy(), meta.dtype, c
            )
            write_chunk(task_store, meta, idx, block)
            if want_stats and _stats_eligible(meta.dtype):
                # bounds cover the FULL block, fill cells included —
                # exactly what a reader materializes from this chunk
                cell_stats[c] = _block_stat_pair(block, meta)
        return pd.DataFrame(
            {
                "cell": [cell],
                "rows": [len(pdf)],
                "stats": [json.dumps(cell_stats)],
            }
        )

    committed = out.groupBy("__cell").applyInPandas(
        write_cell, schema="cell long, rows long, stats string"
    )
    if appending:
        # old cells keep their entries on the grown grid's ordinals;
        # the partial old cell along the append axis unions its bounds
        # with the fill its extension materializes
        old_len = len(old_axes[append_dim])
        cs_a = int(cell_shape[ax_i])
        old_grid = [
            -(-len(old_axes[d]) // int(cs)) for d, cs in zip(dims, cell_shape)
        ]
        merge = StatsMerge(
            grid, old_grid, ax_i, old_len // cs_a if old_len % cs_a else None
        )
    else:
        merge = StatsMerge(grid)
    with _commit_job(
        committed, want_stats, merge.n_entries <= STATS_MAX_OBJECTS
    ) as (written, stats_rows):
        if want_stats:
            stat_metas = _eligible(metas)
            _merge_stats(
                spark, store, path, stat_metas, merge, stats_rows,
                old_stats, _fill_pairs(stat_metas, fills),
            )
            if not appending:
                # an append republishes every array's metadata below;
                # writing it here would expose the grown stats before
                # the grown shape
                for c in stat_metas:
                    store.set(
                        f"{c}/zarr.json",
                        json.dumps(metas[c].to_json()).encode(),
                    )
    if appending:
        # every chunk has landed — NOW grow the store: the append
        # dim's coordinate data first (objects are padded-full, so
        # readers still on the old metadata keep slicing the old
        # region), then every array's grown doc, then the root.
        # Until this block runs, concurrent readers see the
        # consistent pre-append store.
        write_array_data(
            store, coord_metas[append_dim],
            np.asarray(axes[append_dim], dtype=np_dtypes[append_dim]),
        )
        for d in dims:
            store.set(
                f"{d}/zarr.json",
                json.dumps(coord_metas[d].to_json()).encode(),
            )
        for c in data_cols:
            store.set(
                f"{c}/zarr.json",
                json.dumps(metas[c].to_json()).encode(),
            )
    # consolidate last: metadata exists up front (fresh) or from the
    # publish block above (append), so the root doc is refreshed with
    # the full consolidated block only once every chunk has landed
    from .zarr.writer import consolidate_metadata

    consolidate_metadata(store)
    return written


def write_zarr_partitioned(
    df,
    path: str,
    by: str,
    **write_kwargs,
) -> Dict[str, str]:
    """Hive-style partitioned Zarr output: one sub-store per distinct
    value of ``by``, laid out as ``<path>/<by>=<value>/`` — the zarr
    analogue of ``df.write.partitionBy(...)``, and the storage layout
    a 100-TB corpus actually wants (a store per split / language /
    ingest day, so downstream readers open only the partitions they
    need and :func:`read_zarr_partitioned` /
    :func:`arrow_zarr_spark.read_zarr_many` federate the rest).

    The partition column is dropped from the stores (it is constant
    per store and lives in the directory name, Hive-convention) and
    re-attached by :func:`read_zarr_partitioned`. Distinct values are
    collected to the driver — metadata-scale by design (splits,
    languages, days; for high-cardinality sharding use
    ``deterministic_shuffle``'s shard column and numbered stores
    instead). One Spark write job per value; ``write_kwargs`` forward
    to :func:`write_zarr` (``chunk_rows``, ``shard_chunks``,
    ``compression``, ``mode``...). Returns {value: store_path}.

    Fail-fast guards (silent data loss is the one unforgivable writer
    bug): NULL partition values are rejected (a NULL row would match
    no ``col == value`` filter and vanish from the roundtrip), values
    containing path metacharacters are rejected rather than escaped,
    and ``mode="overwrite"`` clears PRIOR ``<by>=*`` sub-stores first
    — otherwise a re-write with fewer values would leave stale
    partitions for the reader to union in. The input is persisted
    around the loop so the upstream plan (often a full pipeline with
    a shuffle) executes once, not once per value."""
    import shutil

    from pyspark.sql import functions as F

    raw = [r[0] for r in df.select(by).distinct().collect()]
    if any(v is None for v in raw):
        raise ValueError(
            f"write_zarr_partitioned: NULL values in partition column "
            f"{by!r} — filter or fill them first (a NULL row would be "
            f"silently dropped)"
        )
    values = sorted(raw)
    for v in values:
        sv = str(v)
        if not sv or any(ch in sv for ch in "/\\="):
            raise ValueError(
                f"write_zarr_partitioned: partition value {sv!r} is "
                f"empty or contains a path metacharacter (/, \\, =)"
            )
    if write_kwargs.get("mode") == "overwrite" and os.path.isdir(path):
        for d in os.listdir(path):
            if d.startswith(f"{by}=") and os.path.isdir(
                os.path.join(path, d)
            ):
                shutil.rmtree(os.path.join(path, d))
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        out = {}
        for v in values:
            sub = f"{path}/{by}={v}"
            write_zarr(
                df.filter(F.col(by) == v).drop(by), sub, **write_kwargs
            )
            out[str(v)] = sub
        return out
    finally:
        df.unpersist()


def read_zarr_partitioned(spark, path: str, columns=None, **options):
    """Read a :func:`write_zarr_partitioned` layout back as ONE
    DataFrame, with the partition column re-attached (as a string —
    directory names carry no type) from each ``<by>=<value>``
    sub-directory. Member scans parallelize and take pushed filters
    independently, exactly as :func:`arrow_zarr_spark.read_zarr_many`
    (which this wraps)."""
    from pyspark.sql import functions as F

    from .datasource import read_zarr

    parts = sorted(
        d for d in os.listdir(path)
        if "=" in d and os.path.isdir(os.path.join(path, d))
    )
    if not parts:
        raise ZarrFormatError(
            f"read_zarr_partitioned: no '<key>=<value>' sub-stores "
            f"under {path!r}"
        )
    keys = {d.split("=", 1)[0] for d in parts}
    if len(keys) != 1:
        raise ZarrFormatError(
            f"read_zarr_partitioned: mixed partition keys {sorted(keys)} "
            f"under {path!r}"
        )
    key = next(iter(keys))
    dfs = []
    for d in parts:
        value = d.split("=", 1)[1]
        member = read_zarr(
            spark, os.path.join(path, d), columns=columns, **options
        )
        dfs.append(member.withColumn(key, F.lit(value)))
    out = dfs[0]
    for m in dfs[1:]:
        out = out.unionByName(m)
    return out


def rechunk_zarr(
    spark,
    src_path: str,
    dst_path: str,
    chunk_rows: int = 65536,
    columns: Optional[Sequence[str]] = None,
    compression: str = "zstd",
    mode: str = "error",
    shard_chunks: Optional[int] = None,
) -> int:
    """Rewrite a table-layout Zarr store with a new chunk/shard layout
    — the zarr-ecosystem "rechunker" capability (compact many small
    chunks into fewer large ones, or repack loose chunks into
    ``sharding_indexed`` objects), distributed: the scan's partitions
    are the SOURCE chunk grid, the write's tasks are the TARGET
    shard/chunk grid, and nothing ever passes through the driver.

    Row order is preserved end to end: the reader emits chunks in
    ascending grid order split contiguously across partitions, and the
    writer lays partitions back down in partition order — so the
    rechunked store is row-for-row identical to the source (verified
    by the w06 driver row's value hash and the round-trip test).

    Returns the number of rows written. ``columns`` narrows the copy
    to a projection (the A4 contract: unselected arrays are never
    decoded); ``shard_chunks`` packs the target's chunks into shards,
    the object-count lever when compacting a many-object store for an
    object-store archive."""
    from .datasource import read_zarr

    df = read_zarr(spark, src_path, columns=columns)
    return write_zarr(
        df,
        dst_path,
        chunk_rows=chunk_rows,
        compression=compression,
        mode=mode,
        shard_chunks=shard_chunks,
    )


def audit_zarr(
    spark,
    path: str,
    columns: Optional[Sequence[str]] = None,
    n_partitions: Optional[int] = None,
) -> DataFrame:
    """Distributed store-integrity audit: decode EVERY chunk of every
    (selected) array and report per-object status — the fsck a 100-TB
    archive runs after a migration, a partial write, or a suspected
    corruption. Catches what metadata alone cannot: truncated or
    bit-flipped objects (crc32c verification raises on mismatch since
    round 5), codec-chain breakage, and shard-index damage. A missing
    chunk object is NOT an error (fill-value semantics, A13) — it
    reports ``ok`` with ``missing=true`` so operators can distinguish
    never-written cells from broken ones.

    Output: one row per (array, chunk) — (array, chunk_key, rows, ok,
    missing, error). Scale shape: the work list is the chunk grid
    (metadata-sized), parallelized across the cluster; each task
    decodes its objects and emits status rows, so wall time is a full
    single read of the store divided by the cluster. No driver data
    beyond the grid enumeration and the result (one small row per
    object)."""
    import itertools

    from .zarr.array import ZarrArray, infer_store_arrays_authoritative

    store = open_store(path)
    arrays = infer_store_arrays_authoritative(store)
    if columns:
        wanted = set(columns)
        missing_cols = wanted - {a.meta.name for a in arrays}
        if missing_cols:
            raise ZarrFormatError(
                f"audit_zarr: no such arrays {sorted(missing_cols)}"
            )
        arrays = [a for a in arrays if a.meta.name in wanted]

    metas = {a.meta.name: a.meta for a in arrays}
    total_cells = 0
    for m in metas.values():
        cells = 1
        for g in m.chunk_grid_shape:
            cells *= g
        total_cells += cells
    from .zarr import versions as _Va

    if total_cells > _Va.MAINT_DRIVER_LIST_MAX:
        # r10: an fsck of a huge grid enumerates its work list in the
        # tasks (sc.range + mixed-radix decode), never on the driver
        work = _Va._grid_work_rdd(spark, metas)
    else:
        work = []
        for a in arrays:
            for idx in itertools.product(
                *(range(g) for g in a.meta.chunk_grid_shape)
            ):
                work.append((a.meta.name, idx))
    sc = spark.sparkContext
    metas_b = sc.broadcast(metas)
    path_b = path

    def check(items):
        task_store = open_store(path_b)
        for name, idx in items:
            meta = metas_b.value[name]
            arr = ZarrArray(task_store, meta)
            key = f"{name}/{meta.chunk_key(idx)}"
            try:
                present = task_store.exists(key)
                if not present:
                    # never-written cell: fill semantics, nothing to
                    # decode, zero STORED rows
                    yield (name, meta.chunk_key(idx), 0, True,
                           True, None)
                    continue
                block = arr.read_chunk(idx)
                n = int(np.prod(block.shape))
                yield (name, meta.chunk_key(idx), n, True,
                       False, None)
            except Exception as exc:  # report, don't abort the audit
                yield (name, meta.chunk_key(idx), 0, False,
                       False, f"{type(exc).__name__}: {exc}")

    schema = T.StructType([
        T.StructField("array", T.StringType(), False),
        T.StructField("chunk_key", T.StringType(), False),
        T.StructField("rows", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("missing", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
    ])
    if n_partitions is None:
        # size by the CLUSTER, not the driver's cores — the audit's
        # wall time is stored-bytes / cluster only if every executor
        # gets work
        n_partitions = sc.defaultParallelism * 2
    if hasattr(work, "mapPartitions"):  # sc.range tier
        rdd = work.mapPartitions(check)
    else:
        n_slices = max(1, min(len(work), int(n_partitions)))
        rdd = sc.parallelize(work, n_slices).mapPartitions(check)
    return spark.createDataFrame(rdd, schema)


def diff_zarr(
    spark,
    path_a: str,
    path_b: str,
    columns: Optional[Sequence[str]] = None,
    n_partitions: Optional[int] = None,
    version_a: Optional[int] = None,
    version_b: Optional[int] = None,
) -> DataFrame:
    """Distributed store diff — the validation step after a
    migration, replication, backfill, or in-place update: compare two
    stores VALUE-wise and report exactly where they differ. Completes
    the maintenance kit alongside :func:`audit_zarr` (fsck within one
    store; this is fsck *between* stores).

    Output, one row per finding:

    - array-level: ``(array, NULL, 'only_a'|'only_b'|'dtype_differs'|
      'shape_differs'|'layout_differs', NULL)`` — present in one store
      only, or not value-comparable cell-by-cell (``layout_differs``
      means equal shape but different chunking, e.g. a rechunked
      copy: values may still match but need a windowed read to prove
      it — use the scan-level equality check for that case);
    - cell-level, for arrays sharing (dtype, shape, chunk layout):
      ``(array, chunk_key, 'equal'|'changed', n_diff)`` with
      ``n_diff`` = number of differing elements. Missing chunks
      materialize the fill first (A13) — a never-written cell in A
      equals an explicitly-fill-valued cell in B, matching what the
      scans return. NaNs compare equal to NaNs (a NaN-filled region
      is not noise).

    Scale: work list = the common chunk grid (metadata-sized),
    parallelized across the cluster; each task decodes both sides of
    its cells — wall time is one read of both stores over the
    cluster. Both stores are read through the AUTHORITATIVE walk.

    ``version_a``/``version_b`` pin either side to a committed
    snapshot (zarr/versions.py), so "what changed between yesterday's
    commit and live?" is ``diff_zarr(spark, p, p, version_a=3)`` —
    the post-hoc answer rollback and pinned reads can't give alone."""
    from .zarr.array import ZarrArray, infer_store_arrays_authoritative
    from .zarr.versions import VersionStoreView, open_version

    # a typo'd version must fail loudly here, not degrade into an
    # all-only_a/only_b report through the empty-side tolerance below
    if version_a is not None:
        open_version(path_a, int(version_a))
    if version_b is not None:
        open_version(path_b, int(version_b))

    def _open_side(path, version):
        store = open_store(path)
        if version is None:
            return store
        # lazy view: tasks re-read the manifest themselves (one GET)
        return VersionStoreView(store, None, int(version))

    def _metas(path, version):
        # an EMPTY side is a reportable state here (every array of the
        # other side becomes only_a/only_b), not an error
        try:
            return {
                a.meta.name: a.meta
                for a in infer_store_arrays_authoritative(
                    _open_side(path, version)
                )
            }
        except ZarrFormatError:
            return {}

    a_arrays = _metas(path_a, version_a)
    b_arrays = _metas(path_b, version_b)
    if columns:
        wanted = set(columns)
        unknown = wanted - (set(a_arrays) | set(b_arrays))
        if unknown:
            raise ZarrFormatError(
                f"diff_zarr: no such arrays {sorted(unknown)} in "
                f"either store"
            )
        a_arrays = {n: m for n, m in a_arrays.items() if n in wanted}
        b_arrays = {n: m for n, m in b_arrays.items() if n in wanted}

    import itertools

    findings = []
    work = []
    comparable = {}
    for n in sorted(set(a_arrays) | set(b_arrays)):
        if n not in b_arrays:
            findings.append((n, None, "only_a", None))
            continue
        if n not in a_arrays:
            findings.append((n, None, "only_b", None))
            continue
        ma, mb = a_arrays[n], b_arrays[n]
        if ma.zarr_dtype != mb.zarr_dtype:
            findings.append((n, None, "dtype_differs", None))
        elif tuple(ma.shape) != tuple(mb.shape):
            findings.append((n, None, "shape_differs", None))
        elif tuple(ma.chunk_shape) != tuple(mb.chunk_shape):
            findings.append((n, None, "layout_differs", None))
        else:
            comparable[n] = (ma, mb)

    total_cells = 0
    for ma, _mb in comparable.values():
        cells = 1
        for g in ma.chunk_grid_shape:
            cells *= g
        total_cells += cells
    from .zarr import versions as _Vd

    if total_cells > _Vd.MAINT_DRIVER_LIST_MAX:
        # r10: a diff over a huge common grid enumerates its work
        # list in the tasks, never on the driver
        work = _Vd._grid_work_rdd(
            spark, {n: ma for n, (ma, _mb) in comparable.items()}
        )
    else:
        for n, (ma, _mb) in comparable.items():
            for idx in itertools.product(
                *(range(g) for g in ma.chunk_grid_shape)
            ):
                work.append((n, idx))

    sc = spark.sparkContext
    metas_b = sc.broadcast(comparable)
    pa, pb = path_a, path_b
    va, vb = version_a, version_b

    def compare(items):
        sa = _open_side(pa, va)
        sb = _open_side(pb, vb)
        for name, idx in items:
            ma, mb = metas_b.value[name]
            # read_chunk materializes the fill for missing objects —
            # the same values a scan would produce
            blk_a = ZarrArray(sa, ma).read_chunk(idx)
            blk_b = ZarrArray(sb, mb).read_chunk(idx)
            if blk_a.dtype.kind in ("f", "c"):
                same = (blk_a == blk_b) | (
                    np.isnan(blk_a) & np.isnan(blk_b)
                )
            elif blk_a.dtype.kind in ("M", "m"):
                # NaT != NaT under ==, same trap as NaN
                same = (blk_a == blk_b) | (
                    np.isnat(blk_a) & np.isnat(blk_b)
                )
            else:
                same = blk_a == blk_b
            n_diff = int(blk_a.size - np.count_nonzero(same))
            yield (
                name,
                ma.chunk_key(idx),
                "changed" if n_diff else "equal",
                n_diff,
            )

    schema = T.StructType([
        T.StructField("array", T.StringType(), False),
        T.StructField("chunk_key", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("n_diff", T.LongType(), True),
    ])
    if n_partitions is None:
        n_partitions = sc.defaultParallelism * 2
    parts = []
    if hasattr(work, "mapPartitions"):  # sc.range tier
        parts.append(
            spark.createDataFrame(work.mapPartitions(compare), schema)
        )
    elif work:
        n_slices = max(1, min(len(work), int(n_partitions)))
        parts.append(
            spark.createDataFrame(
                sc.parallelize(work, n_slices).mapPartitions(compare),
                schema,
            )
        )
    if findings:
        parts.append(spark.createDataFrame(findings, schema))
    if not parts:
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _refresh_rows(spark, path: str, meta) -> DataFrame:
    """The past-cutover recompute of :func:`refresh_stats` for ONE
    array, as ``(cell, stats)`` commit rows: the work list is
    ``spark.range`` over chunk ordinals (pure metadata arithmetic) and
    each pair computes in a ``mapInPandas`` task (one decode per
    object; a missing object bounds to the fill value it materializes
    as — ``read_chunk``'s contract). No per-object work list or
    collected row set exists on the driver."""
    from .zarr.array import ZarrArray

    n_obj = int(meta.chunk_grid_shape[0])
    sc = spark.sparkContext
    meta_b = sc.broadcast(meta)

    def compute(batches):
        task_store = open_store(path)
        m = meta_b.value
        arr = ZarrArray(task_store, m)
        for pdf in batches:
            stats = [
                json.dumps(
                    {
                        m.name: _block_stat_pair(
                            np.asarray(arr.read_chunk((int(i),)), m.dtype),
                            m,
                        )
                    }
                )
                for i in pdf["id"]
            ]
            yield pd.DataFrame({"cell": pdf["id"], "stats": stats})

    n_parts = max(1, min(n_obj, sc.defaultParallelism * 2))
    return spark.range(0, n_obj, 1, n_parts).mapInPandas(
        compute, "cell long, stats string"
    )


def refresh_stats(
    spark,
    path: str,
    columns: Optional[Sequence[str]] = None,
    n_partitions: Optional[int] = None,
) -> int:
    """(Re)compute per-object [min, max] statistics for an EXISTING
    table-layout store — the retrofit path: stores written before
    statistics existed, by third-party zarr writers, or whose stats
    were dropped (``stats=False`` / stale-length discard) gain
    planning-time pruning without a rewrite.

    Each store object is decoded once, executor-parallel; missing
    objects bound to the fill value they materialize as. Returns the
    number of (array, object) pairs computed. 1-D arrays only (the
    table layout; grid stores get their stats from
    :func:`write_zarr_grid`).

    Two tiers on STATS_GRID_MAX_OBJECTS (a cutover, not a capability
    bound): at or under it the per-object rows collect and the driver
    merges them (one job, small-store latency); past it
    :func:`_refresh_rows` computes them in tasks and the merge writes
    each sidecar block executor-side with no driver list anywhere, so
    arbitrarily large third-party stores can be retrofitted. Either
    way an incomplete recompute raises."""
    from .zarr.array import ZarrArray, infer_store_arrays_authoritative

    store = open_store(path)
    arrays = [
        a
        for a in infer_store_arrays_authoritative(store)
        if a.meta.ndim == 1
    ]
    if columns:
        wanted = set(columns)
        missing = wanted - {a.meta.name for a in arrays}
        if missing:
            raise ZarrFormatError(
                f"refresh_stats: no such 1-D arrays {sorted(missing)}"
            )
        arrays = [a for a in arrays if a.meta.name in wanted]
    targets = []
    targets_dist = []
    for a in arrays:
        if not _stats_eligible(a.meta.dtype):
            continue
        if a.meta.chunk_grid_shape[0] <= STATS_GRID_MAX_OBJECTS:
            targets.append(a)
        else:
            targets_dist.append(a)
    work = [
        (a.meta.name, i)
        for a in targets
        for i in range(a.meta.chunk_grid_shape[0])
    ]
    sc = spark.sparkContext
    metas_b = sc.broadcast({a.meta.name: a.meta for a in targets})

    def compute(items):
        task_store = open_store(path)
        for name, i in items:
            meta = metas_b.value[name]
            block = ZarrArray(task_store, meta).read_chunk((i,))
            block = np.asarray(block, dtype=meta.dtype)
            yield name, i, _block_stat_pair(block, meta)

    if n_partitions is None:
        n_partitions = sc.defaultParallelism * 2
    rows = (
        sc.parallelize(work, max(1, min(len(work), int(n_partitions))))
        .mapPartitions(compute)
        .collect()
        if work
        else []
    )
    written: Dict[str, Dict[int, list]] = {}
    for name, i, pair in rows:
        written.setdefault(name, {})[i] = pair
    # inline or sidecar by entry count: refresh is also the MIGRATION
    # verb between the two representations
    for a in targets + targets_dist:
        m = a.meta
        _merge_stats(
            spark, store, path, {m.name: m},
            StatsMerge(m.chunk_grid_shape[:1]),
            (
                {m.name: written.get(m.name, {})}
                if a in targets
                else _refresh_rows(spark, path, m)
            ),
            complete=True,
        )
    computed = {a.meta.name for a in targets + targets_dist}
    from .zarr.stats import delete_sidecar

    for a in arrays:
        m = a.meta
        if m.name not in computed:
            m.attributes.pop(STATS_ATTR_KEY, None)
            delete_sidecar(store, m.name)
        if store.exists(f"{m.name}/.zarray"):
            # v2 array: stats live in .zattrs (merged — the codec
            # spec in .zarray is never rewritten); writing a v3
            # zarr.json here would mix formats in one array dir
            raw = store.get(f"{m.name}/.zattrs")
            zattrs = json.loads(raw) if raw else {}
            if m.name in computed:
                zattrs[STATS_ATTR_KEY] = m.attributes[STATS_ATTR_KEY]
            else:
                zattrs.pop(STATS_ATTR_KEY, None)
            store.set(
                f"{m.name}/.zattrs", json.dumps(zattrs).encode()
            )
        else:
            store.set(
                f"{m.name}/zarr.json", json.dumps(m.to_json()).encode()
            )
    _refresh_store_cache(store)
    return len(rows) + sum(
        int(a.meta.chunk_grid_shape[0]) for a in targets_dist
    )


def describe_zarr(path: str, stats_blocks: bool = False) -> dict:
    """Metadata-only store inspection — the ops-tooling complement of
    :func:`audit_zarr` (which reads every object): answers "what is
    this store and how big is it" from the PLANNING metadata alone
    (one GET on a consolidated store; a listing walk otherwise — never
    a chunk read).

    Returns::

        {
          "zarr_format": 2 | 3,
          "consolidated": bool,          # one-GET planning available
          "n_rows": int | None,          # scan row count (table: the
                                         #  common length; grid: the
                                         #  Cartesian product) — the
                                         #  COUNT(*) fast path
          "total_objects": int,          # chunk/shard object count
          "columns": {name: {"dtype", "shape", "chunk_shape",
                             "dimension_names", "n_objects",
                             "stats_kind",          # "inline" |
                             #  "sidecar" | None (no/stale stats)
                             "stats_coverage"}},   # coverage: fraction
                             # of objects with known [min,max] bounds;
                             # None when the array carries no stats —
                             # or carries SIDECAR stats and
                             # stats_blocks=False (below)
        }

    ``stats_blocks=True`` additionally walks sidecar statistics
    blocks (O(one block) memory via ``iter_stats_blocks``) to report
    exact coverage for sidecar-backed columns — r11, now that
    refresh_stats retrofits arbitrarily large stores into the sidecar
    representation. That is ~n_objects/65536 metadata GETs (a
    billion-object column is ~16k), so it is OPT-IN: the default stays
    strictly planning-metadata-priced.
    """
    store = open_store(path)
    from .zarr.array import infer_store_arrays
    from .zarr.stats import is_sidecar_marker, iter_stats_blocks

    arrays = infer_store_arrays(store)
    v2 = any(a.meta.key_encoding == "v2" for a in arrays)
    consolidated = False
    raw = store.get("zarr.json")
    if raw is not None:
        try:
            consolidated = "consolidated_metadata" in json.loads(raw)
        except json.JSONDecodeError:
            pass
    if not consolidated:
        consolidated = store.get(".zmetadata") is not None

    def _known(entries) -> int:
        # same strictness as the pruning scan: an entry prunes only
        # when it is a well-formed [lo, hi] pair
        return sum(
            1
            for e in entries
            if isinstance(e, list) and len(e) == 2 and None not in e
        )

    cols = {}
    total_objects = 0
    data_shapes = set()
    for a in arrays:
        m = a.meta
        n_obj = m.n_chunks
        total_objects += n_obj
        stats = m.attributes.get(STATS_ATTR_KEY)
        coverage = None
        kind = None
        if isinstance(stats, list) and len(stats) == n_obj:
            kind = "inline"
            coverage = round(_known(stats) / n_obj, 4) if n_obj else 1.0
        elif is_sidecar_marker(stats) and stats.get("n_entries") == n_obj:
            kind = "sidecar"
            if stats_blocks:
                known = 0
                n_seen = 0
                for block in iter_stats_blocks(store, m.name, stats):
                    if block is None:  # torn sidecar: unknown
                        known, n_seen = 0, 0
                        kind = None
                        break
                    known += _known(block)
                    n_seen += len(block)
                if kind == "sidecar" and n_seen == n_obj and n_obj:
                    coverage = round(known / n_obj, 4)
        cols[m.name] = {
            "dtype": m.zarr_dtype,
            "shape": tuple(m.shape),
            "chunk_shape": tuple(m.chunk_shape),
            "dimension_names": m.dimension_names,
            "n_objects": n_obj,
            "stats_kind": kind,
            "stats_coverage": coverage,
        }
        # coordinate arrays don't define the scan's row count; data
        # arrays do (is_coordinate is THE definition, zarr/meta.py)
        if not m.is_coordinate():
            data_shapes.add(tuple(m.shape))
    n_rows = None
    if len(data_shapes) == 1:
        n_rows = int(math.prod(next(iter(data_shapes))))
    return {
        "zarr_format": 2 if v2 else 3,
        "consolidated": consolidated,
        "n_rows": n_rows,
        "total_objects": total_objects,
        "columns": cols,
    }


def write_zarr_region(
    df: DataFrame,
    path: str,
    dims: Sequence[str],
    stats: bool = True,
) -> int:
    """Update EXISTING grid points of an N-D store in place — the
    region-write third of the grid writer's xarray ``to_zarr``
    surface (write / ``append_dim`` / ``region``): corrections,
    backfills, and reprocessed slices land on a live store without a
    rewrite.

    ``df`` carries the coordinate columns (``dims``) plus the data
    columns to update — a SUBSET of the store's data arrays is fine
    (each column's chunks are separate objects; untouched arrays are
    never read or written). Every coordinate value must already be on
    its axis (region writes never grow the grid — that is
    ``append_dim``'s job), and a duplicate grid point in ``df`` is an
    error (silently letting the last row win would be
    nondeterministic under Spark partitioning). Store shape,
    metadata, and untouched cells are unchanged; touched cells are
    read-merged value-completely (missing chunk objects materialize
    the fill first, A13). Per-cell statistics follow an
    invalidate-first protocol: touched cells' recorded bounds are
    NULLED (unknown → unprunable) before any chunk mutates, then —
    with ``stats=True`` — recomputed bounds publish once every chunk
    has landed. A job that dies mid-write therefore leaves pruning
    sound (run :func:`refresh_stats` to restore bounds); with
    ``stats=False`` the touched cells simply stay unknown rather than
    keeping bounds the new values may violate.

    Scale shape: same as the grid writer — positions attach via
    broadcast joins against the (axis-sized) coordinate vocabularies,
    rows shuffle once on their target cell, each task read-merges and
    rewrites exactly its cell's objects. Cost is proportional to the
    touched region, never the store."""
    dims = list(dims)
    if not dims:
        raise ZarrFormatError("write_zarr_region needs at least one dim")
    data_cols = [f.name for f in df.schema.fields if f.name not in dims]
    if not data_cols:
        raise ZarrFormatError("no data columns besides dims")
    for field in df.schema.fields:
        _zarr_dtype_for(field)

    store = open_store(path)
    if not store.exists("zarr.json"):
        raise ZarrFormatError(
            f"Region-write target missing (or not Zarr v3) at {path!r}"
        )
    from .zarr.array import infer_store_arrays_authoritative

    arrays = {
        a.meta.name: a for a in infer_store_arrays_authoritative(store)
    }
    np_dtypes = {
        field.name: _np_dtype_for(field) for field in df.schema.fields
    }
    for d in dims:
        if d not in arrays or not arrays[d].meta.is_coordinate():
            raise ZarrFormatError(
                f"Region write: {d!r} is not a coordinate array of the "
                f"store at {path!r}"
            )
    metas: Dict[str, ArrayMeta] = {}
    for c in data_cols:
        if c not in arrays:
            raise ZarrFormatError(
                f"Region write: data array {c!r} not in the store "
                f"(store has {sorted(arrays)})"
            )
        m = arrays[c].meta
        if m.dimension_names != tuple(dims):
            raise ZarrFormatError(
                f"Region write: {c!r} dimension names "
                f"{m.dimension_names} != {tuple(dims)}"
            )
        if m.zarr_dtype != _zarr_dtype_for(
            df.schema[c]
        ):
            raise ZarrFormatError(
                f"Region write dtype mismatch for {c!r}: store has "
                f"{m.zarr_dtype}, writing {_zarr_dtype_for(df.schema[c])}"
            )
        metas[c] = m
    shapes = {tuple(metas[c].shape) for c in data_cols}
    chunk_shapes = {tuple(metas[c].chunk_shape) for c in data_cols}
    if len(shapes) != 1 or len(chunk_shapes) != 1:
        raise ZarrFormatError(
            "Region write: updated data arrays disagree on "
            f"shape/chunking ({shapes} / {chunk_shapes})"
        )
    chunk_shape = next(iter(chunk_shapes))
    shape = next(iter(shapes))

    spark = df.sparkSession
    axes = {d: arrays[d].read_all().tolist() for d in dims}
    _check_axes_match_shape(axes, dims, shape, "Region write")
    out, grid = _validated_cell_frame(
        spark, df, dims, axes, chunk_shape, "Region write"
    )
    # touched-region-sized (cell count), the same scale class as the
    # write job's commit rows
    touched_cells = sorted(
        int(r["__cell"]) for r in out.select("__cell").distinct().collect()
    )

    # Pre-invalidate: NULL the touched cells' recorded bounds BEFORE
    # any chunk object mutates. New values under old bounds would make
    # stats pruning silently drop updated rows — both mid-job (a task
    # fails after siblings committed) and with stats=False (no
    # recompute ever runs). Null = unknown = unprunable = sound;
    # :func:`refresh_stats` repairs a store left invalidated by a
    # crashed job. With stats=True the recomputed bounds republish
    # after the write lands.
    merge = StatsMerge(grid, grid)
    nulls = {int(o): None for o in touched_cells}
    _update_stats_in_place(store, path, metas, merge, {c: nulls for c in metas})

    metas_b = spark.sparkContext.broadcast(metas)
    chunk_shape_t = tuple(int(x) for x in chunk_shape)
    dims_t = list(dims)
    data_cols_t = list(data_cols)
    grid_t = list(grid)
    # no cap gate: region-update stats work is DELTA-proportional
    # (one row per touched cell, block-local sidecar patches)
    want_stats = bool(stats)

    def update_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(pdf["__cell"].iloc[0])
        idx = _decode_cell(cell, grid_t)
        task_store = open_store(path)
        local = _local_offsets(pdf, dims_t, idx, chunk_shape_t)
        # duplicate-point check: two input rows addressing the same
        # grid point would race nondeterministically
        stacked = np.stack([np.asarray(x) for x in local])
        uniq = np.unique(stacked, axis=1)
        if uniq.shape[1] != stacked.shape[1]:
            raise ZarrFormatError(
                f"Region write: duplicate grid points in cell {idx}"
            )
        from .zarr.array import ZarrArray

        cell_stats = {}
        for c in data_cols_t:
            meta = metas_b.value[c]
            block = np.array(
                ZarrArray(task_store, meta).read_chunk(idx)
            )
            block[tuple(local)] = _reject_nulls(
                pdf[c].to_numpy(), meta.dtype, c
            )
            write_chunk(task_store, meta, idx, block)
            if want_stats and _stats_eligible(meta.dtype):
                cell_stats[c] = _block_stat_pair(block, meta)
        return pd.DataFrame(
            {
                "cell": [cell],
                "rows": [len(pdf)],
                "stats": [json.dumps(cell_stats)],
            }
        )

    committed = out.groupBy("__cell").applyInPandas(
        update_cell, schema="cell long, rows long, stats string"
    )
    with _commit_job(committed, want_stats, True) as (written, touched):
        if want_stats:
            _update_stats_in_place(store, path, metas, merge, touched)
    return written


def upsert_zarr(
    df: DataFrame,
    path: str,
    key_col: str,
    on_missing: str = "error",
    stats: bool = True,
    chunk_rows: int = 65536,
    compression: str = "zstd",
    shard_chunks: Optional[int] = None,
) -> dict:
    """MERGE by key into a 1-D table store: rows of ``df`` whose
    ``key_col`` matches an existing store row UPDATE that row's other
    columns in place; unmatched keys follow ``on_missing`` —
    ``"error"`` (default), ``"ignore"``, or ``"insert"`` (append them,
    full column set required). The row-keyed counterpart of
    :func:`write_zarr_region` (which addresses N-D grids by
    coordinates): corrections and late-arriving fixes land on a live
    corpus store without a rewrite. The reference has no write path at
    all (SURVEY §2: sinks absent); this extends our writer's verb set.

    ``df`` carries ``key_col`` plus the data columns to update — a
    SUBSET of the store's arrays is fine (each column's chunks are
    separate objects; untouched arrays are never read or written).
    Duplicate or NULL keys in ``df`` are errors (the last-write-wins
    alternative is nondeterministic under Spark partitioning);
    duplicate keys in the STORE all update, SQL-UPDATE-style.

    Scale shape — cost is DELTA-proportional, never store-
    proportional, in three moves: (1) the update keys' [min, max]
    (one metadata-sized agg) statically prunes the key array's
    store objects through their recorded statistics, exactly like a
    scan filter (a stats-less store degrades to scanning every key
    object; run :func:`refresh_stats` first to restore the bound);
    (2) ONLY the key column decodes on the surviving objects —
    positions of in-range keys become a (key, object, pos) frame
    that equi-joins the updates on key (a plain shuffle hash join:
    neither side broadcasts, so update batches may be arbitrarily
    large); (3) rewrites groupBy touched object — each task
    read-merges exactly its object's chunks for exactly the updated
    columns. Statistics follow :func:`write_zarr_region`'s
    invalidate-first protocol: touched objects' bounds are NULLed
    before any chunk mutates, recomputed bounds publish after the
    last chunk lands.

    ``chunk_rows`` / ``compression`` / ``shard_chunks`` only matter
    for ``on_missing="insert"`` — they forward to the append, which
    validates them against the store's actual layout and names the
    mismatched option if they differ.

    Returns ``{"updated_rows", "inserted_rows", "touched_objects",
    "candidate_objects", "total_objects"}``."""
    if on_missing not in ("error", "ignore", "insert"):
        raise ZarrFormatError(
            f"upsert_zarr: on_missing must be 'error', 'ignore' or "
            f"'insert', got {on_missing!r}"
        )
    if key_col not in df.columns:
        raise ZarrFormatError(
            f"upsert_zarr: key column {key_col!r} not in the update "
            f"DataFrame (has {df.columns})"
        )
    data_cols = [c for c in df.columns if c != key_col]
    if not data_cols:
        raise ZarrFormatError(
            "upsert_zarr: the update DataFrame needs at least one "
            "data column besides the key"
        )
    for field in df.schema.fields:
        _zarr_dtype_for(field)

    store = open_store(path)
    if not store.exists("zarr.json"):
        raise ZarrFormatError(
            f"Upsert target missing (or not Zarr v3) at {path!r}"
        )
    from .zarr.array import ZarrArray, infer_store_arrays_authoritative

    arrays = {
        a.meta.name: a for a in infer_store_arrays_authoritative(store)
    }
    metas: Dict[str, ArrayMeta] = {}
    for c in df.columns:
        if c not in arrays:
            raise ZarrFormatError(
                f"upsert_zarr: column {c!r} not in the store "
                f"(store has {sorted(arrays)})"
            )
        m = arrays[c].meta
        if m.ndim != 1:
            raise ZarrFormatError(
                "upsert_zarr targets 1-D table stores; "
                f"{c!r} has shape {tuple(m.shape)} (grids take "
                "write_zarr_region)"
            )
        if m.zarr_dtype != _zarr_dtype_for(df.schema[c]):
            raise ZarrFormatError(
                f"upsert_zarr dtype mismatch for {c!r}: store has "
                f"{m.zarr_dtype}, writing {_zarr_dtype_for(df.schema[c])}"
            )
        metas[c] = m
    key_meta = metas[key_col]
    if key_meta.dtype.kind not in ("i", "u", "f", "O"):
        raise ZarrFormatError(
            f"upsert_zarr: unsupported key dtype {key_meta.dtype} "
            "(integer, float, and string keys are supported)"
        )
    grids = {
        c: (metas[c].chunk_grid_shape[0], metas[c].chunk_shape[0])
        for c in df.columns
    }
    if len(set(grids.values())) != 1:
        raise ZarrFormatError(
            f"upsert_zarr: updated arrays disagree on chunk layout "
            f"({grids})"
        )
    n_objects, _obj_rows = grids[key_col]

    spark = df.sparkSession
    sc = spark.sparkContext
    # checkpointed so every consumer sees ONE evaluation — bounds from
    # one evaluation and the join from another would be unsound for a
    # nondeterministic upstream (a sampled or rand()-derived batch)
    df = df.localCheckpoint(eager=True)

    # update-batch hygiene in ONE aggregation job: NULL or duplicate
    # keys would make the patch phase nondeterministic — reject loudly
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(key_col).alias("n_keys"),
        F.countDistinct(key_col).alias("n_distinct"),
        F.min(key_col).alias("lo"),
        F.max(key_col).alias("hi"),
    ).first()
    n_updates = int(row["n"])
    if int(row["n_keys"]) < n_updates:
        raise ZarrFormatError("upsert_zarr: NULL key in the update batch")
    if int(row["n_distinct"]) < n_updates:
        dup = (
            df.groupBy(key_col).count().where(F.col("count") > 1).take(1)
        )
        raise ZarrFormatError(
            f"upsert_zarr: duplicate key {dup[0][0]!r} in the update "
            "batch (updates must be keyed uniquely)"
        )
    kmin, kmax = row["lo"], row["hi"]

    # (1) static pruning: the key array's per-object [min, max] against
    # the batch's key bounds — same soundness rules as the scan (None /
    # wrong-length entries degrade to keep; string maxima are rounded-
    # up truncations so entry_max < kmin still implies true_max < kmin)
    from .zarr.stats import is_sidecar_marker, iter_stats_blocks

    # the past-cap store is exactly the one whose upsert needs the
    # key-bounds prune most (a delta update without it is a full key
    # scan of a billion-object store) — but its sidecar is scanned
    # BLOCK-STREAMED, never reassembled: O(one block) driver memory
    # regardless of object count (r8 review finding)
    recorded_attr = key_meta.attributes.get(STATS_ATTR_KEY)
    e_lo = _stat_encode(kmin, key_meta.dtype)
    e_hi = _stat_encode(kmax, key_meta.dtype, upper=True)

    def survives(entry) -> bool:
        if not isinstance(entry, (list, tuple)) or len(entry) != 2:
            return True
        lo, hi = entry
        if lo is None or hi is None:
            return True
        try:
            return not (hi < e_lo or lo > e_hi)
        except TypeError:
            return True  # cross-type garbage: keep, never prune

    candidates = list(range(n_objects))
    if e_lo is not None and e_hi is not None:
        if (
            isinstance(recorded_attr, list)
            and len(recorded_attr) == n_objects
        ):
            candidates = [
                i for i in range(n_objects) if survives(recorded_attr[i])
            ]
        elif (
            is_sidecar_marker(recorded_attr)
            and recorded_attr.get("n_entries") == n_objects
        ):
            streamed: List[int] = []
            base = 0
            torn = False
            for part in iter_stats_blocks(store, key_col, recorded_attr):
                if part is None:
                    torn = True
                    break
                streamed.extend(
                    base + j for j, e in enumerate(part) if survives(e)
                )
                base += len(part)
            if not torn and base == n_objects:
                candidates = streamed
            # torn/short sidecar: keep the full candidate list (sound)

    updated_rows = 0
    touched: List[int] = []
    n_matched_keys = 0
    if candidates:
        # (2) key-only position scan over the surviving objects
        key_meta_b = sc.broadcast(key_meta)

        def scan_keys(obj_iter):
            task_store = open_store(path)
            arr = ZarrArray(task_store, key_meta_b.value)
            for c in obj_iter:
                vals = np.asarray(arr.read_chunk((int(c),)))
                mask = (vals >= kmin) & (vals <= kmax)
                for p in np.nonzero(mask)[0]:
                    v = vals[p]
                    yield (
                        v.item() if hasattr(v, "item") else v,
                        int(c),
                        int(p),
                    )

        key_field = df.schema[key_col]
        pos_schema = T.StructType(
            [
                T.StructField(key_col, key_field.dataType, False),
                T.StructField("__obj", T.LongType(), False),
                T.StructField("__pos", T.LongType(), False),
            ]
        )
        n_parts = max(1, min(len(candidates), sc.defaultParallelism * 2))
        pos_df = spark.createDataFrame(
            sc.parallelize(candidates, n_parts).mapPartitions(scan_keys),
            pos_schema,
        )
        matched = pos_df.join(df, key_col).localCheckpoint(eager=True)
        # one job answers both bookkeeping questions: the touched
        # object set (delta-sized) and how many distinct batch keys
        # actually matched (drives on_missing)
        mrow = matched.select(
            F.countDistinct(key_col).alias("nk"),
            F.collect_set("__obj").alias("objs"),
        ).first()
        touched = sorted(int(o) for o in mrow["objs"] or [])
        n_matched_keys = int(mrow["nk"] or 0)

    if on_missing == "error" and n_matched_keys < n_updates:
        if candidates and touched:
            unmatched = df.join(
                matched.select(key_col).distinct(), key_col, "left_anti"
            )
        else:
            unmatched = df
        sample = [r[key_col] for r in unmatched.take(5)]
        raise ZarrFormatError(
            f"upsert_zarr: update keys not present in the store "
            f"(e.g. {sample}); pass on_missing='ignore' to skip "
            "them or 'insert' to append them"
        )

    # no cap gate: upsert's stats work is DELTA-proportional (one row
    # per touched object through the driver, block-local sidecar
    # patches), so it is safe at any store size
    want_stats = bool(stats)
    if touched:
        # invalidate-first (write_zarr_region's protocol): touched
        # objects' bounds NULL before any chunk mutates — in both the
        # inline and sidecar representations (a stale sidecar
        # advertising pre-update bounds would be an UNSOUND prune)
        data_metas = {c: metas[c] for c in data_cols}
        merge = StatsMerge((n_objects,), (n_objects,))
        nulls = {i: None for i in touched}
        _update_stats_in_place(
            store, path, data_metas, merge, {c: nulls for c in data_cols}
        )

        metas_b = sc.broadcast(metas)
        data_cols_t = list(data_cols)

        def patch_object(pdf: pd.DataFrame) -> pd.DataFrame:
            obj = int(pdf["__obj"].iloc[0])
            task_store = open_store(path)
            pos = pdf["__pos"].to_numpy()
            obj_stats = {}
            for c in data_cols_t:
                meta = metas_b.value[c]
                block = np.array(
                    ZarrArray(task_store, meta).read_chunk((obj,))
                )
                block[pos] = _reject_nulls(
                    pdf[c].to_numpy(), meta.dtype, c
                )
                write_chunk(task_store, meta, (obj,), block)
                if want_stats and _stats_eligible(meta.dtype):
                    obj_stats[c] = _block_stat_pair(block, meta)
            return pd.DataFrame(
                {
                    "cell": [obj],
                    "rows": [len(pdf)],
                    "stats": [json.dumps(obj_stats)],
                }
            )

        committed = matched.groupBy("__obj").applyInPandas(
            patch_object, schema="cell long, rows long, stats string"
        )
        with _commit_job(committed, want_stats, True) as (
            updated_rows, restat
        ):
            if want_stats:
                _update_stats_in_place(store, path, data_metas, merge, restat)

    inserted = 0
    if on_missing == "insert" and n_matched_keys < n_updates:
        store_cols = sorted(arrays)
        if sorted(df.columns) != store_cols:
            raise ZarrFormatError(
                "upsert_zarr: on_missing='insert' needs the FULL "
                f"column set {store_cols} to append new rows "
                f"(update batch has {sorted(df.columns)})"
            )
        if candidates and touched:
            unmatched = df.join(
                matched.select(key_col).distinct(), key_col, "left_anti"
            )
        else:
            unmatched = df
        # column order must match the store's row layout exactly as
        # written; append validates layout/codecs and names any
        # mismatched option
        to_insert = unmatched.select(*store_cols).localCheckpoint(
            eager=True
        )
        inserted = to_insert.count()
        if inserted:
            write_zarr(
                to_insert,
                path,
                chunk_rows=chunk_rows,
                compression=compression,
                shard_chunks=shard_chunks,
                mode="append",
                stats=stats,
            )
    return {
        "updated_rows": int(updated_rows),
        "inserted_rows": int(inserted),
        "touched_objects": len(touched),
        "candidate_objects": len(candidates),
        "total_objects": int(n_objects),
    }


def add_zarr_arrays(
    df: DataFrame,
    path: str,
    dims: Sequence[str],
    fill_value=0,
    compression: str = "zstd",
    stats: bool = True,
) -> int:
    """Add NEW data arrays (columns) to an existing N-D grid store —
    the ALTER TABLE ADD COLUMN of the grid surface (write /
    ``append_dim`` / ``region`` grow rows and update values; this
    grows the schema: attach quality scores, embeddings digests, or a
    reprocessed variable to a live store without a rewrite).

    ``df`` carries the coordinate columns (``dims``) plus one or more
    data columns that must NOT already exist in the store. A SUBSET of
    grid points is fine — cells with no input rows get no chunk
    object, so readers materialize ``fill_value`` there (A13). Layout
    (chunk shape) is copied from the store's existing data arrays, so
    the new columns scan co-partitioned with the old ones.

    Crash safety mirrors the grid append: chunk objects land FIRST
    (invisible — the array has no metadata yet), each new array's
    ``zarr.json`` plus the re-consolidated root publish only after
    every chunk commits. A job that dies mid-write leaves the store
    exactly as it was (the stranded chunks are :func:`vacuum_zarr`
    debris). Concurrent readers never see a partial column.

    Scale shape: identical to the grid writer — broadcast position
    joins, one shuffle co-locating cells, each task writes exactly its
    cell's objects; cost is proportional to the provided region."""
    dims = list(dims)
    if not dims:
        raise ZarrFormatError("add_zarr_arrays needs at least one dim")
    data_cols = [f.name for f in df.schema.fields if f.name not in dims]
    if not data_cols:
        raise ZarrFormatError("no data columns besides dims")
    for field in df.schema.fields:
        _zarr_dtype_for(field)

    store = open_store(path)
    if not store.exists("zarr.json"):
        raise ZarrFormatError(
            f"Add-column target missing (or not Zarr v3) at {path!r}"
        )
    from .zarr.array import infer_store_arrays_authoritative
    from .zarr.writer import build_array_meta, consolidate_metadata

    arrays = {
        a.meta.name: a for a in infer_store_arrays_authoritative(store)
    }
    for d in dims:
        if d not in arrays or not arrays[d].meta.is_coordinate():
            raise ZarrFormatError(
                f"Add column: {d!r} is not a coordinate array of the "
                f"store at {path!r}"
            )
    for c in data_cols:
        if c in arrays:
            raise ZarrFormatError(
                f"Add column: {c!r} already exists in the store "
                f"(write_zarr_region updates existing arrays)"
            )
    # layout comes from the existing data arrays so old and new
    # columns stay chunk-aligned (one scan partitioning serves both)
    donors = [
        a.meta
        for a in arrays.values()
        if not a.meta.is_coordinate()
        and a.meta.dimension_names == tuple(dims)
    ]
    if not donors:
        raise ZarrFormatError(
            f"Add column: store has no data array over dims "
            f"{tuple(dims)} to copy the chunk layout from"
        )
    donor = donors[0]
    shape = tuple(donor.shape)
    # preserve the donor's sharding: a sharded store's object grid is
    # its shard grid — the new column must match it AND keep inner
    # chunks (an unsharded copy would lose inner-chunk pruning)
    donor_shard = None
    donor_chunks = tuple(donor.chunk_shape)
    if donor.codecs and donor.codecs[0].get("name") == "sharding_indexed":
        donor_shard = donor_chunks
        donor_chunks = tuple(
            int(x) for x in donor.codecs[0]["configuration"]["chunk_shape"]
        )
    chunk_shape = tuple(donor.chunk_shape)

    spark = df.sparkSession
    axes = {d: arrays[d].read_all().tolist() for d in dims}
    _check_axes_match_shape(axes, dims, shape, "Add column")

    np_dtypes = {c: _np_dtype_for(df.schema[c]) for c in data_cols}
    metas: Dict[str, ArrayMeta] = {}
    fills: Dict[str, Any] = {}
    for c in data_cols:
        metas[c] = build_array_meta(
            c,
            shape=shape,
            chunk_shape=donor_chunks,
            dtype=np_dtypes[c],
            fill_value=fill_value,
            dimension_names=tuple(dims),
            compression=compression,
            shard_shape=donor_shard,
        )
        try:
            metas[c].to_json()
        except (ValueError, TypeError) as exc:
            raise ZarrFormatError(
                f"fill_value {fill_value!r} is not representable in "
                f"column {c!r} ({np_dtypes[c]}): {exc}"
            ) from None
        # runtime fill = the meta's CANONICAL fill (same reasoning as
        # the grid writer: readers materialize the declared fill)
        fills[c] = (
            metas[c].fill_value
            if metas[c].fill_value is not None
            else fill_value
        )

    # a PREVIOUS add of these columns that crashed mid-write left
    # stranded chunk objects (metadata absent => provably debris, the
    # vacuum class); adopting them would publish another run's values
    # under stats claiming pure fill — purge before writing
    # prefix walks, not a full-store scan: only the NEW columns'
    # subtrees can hold a crashed prior add's debris
    for c in data_cols:
        for k in list(store.walk_prefix(c)):
            store.delete(k)
        if store.exists(c):  # a bare file squatting the column name
            store.delete(c)

    out, grid = _validated_cell_frame(
        spark, df, dims, axes, chunk_shape, "Add column"
    )

    metas_b = spark.sparkContext.broadcast(metas)
    chunk_shape_t = tuple(int(x) for x in chunk_shape)
    dims_t = list(dims)
    data_cols_t = list(data_cols)
    grid_t = list(grid)
    fills_t = dict(fills)
    want_stats = bool(stats)

    def write_new_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(pdf["__cell"].iloc[0])
        idx = _decode_cell(cell, grid_t)
        task_store = open_store(path)
        local = _local_offsets(pdf, dims_t, idx, chunk_shape_t)
        stacked = np.stack([np.asarray(x) for x in local])
        if np.unique(stacked, axis=1).shape[1] != stacked.shape[1]:
            raise ZarrFormatError(
                f"Add column: duplicate grid points in cell {idx}"
            )
        cell_stats = {}
        for c in data_cols_t:
            meta = metas_b.value[c]
            block = np.full(
                meta.valid_chunk_shape(idx), fills_t[c], dtype=meta.dtype
            )
            block[tuple(local)] = _reject_nulls(
                pdf[c].to_numpy(), meta.dtype, c
            )
            write_chunk(task_store, meta, idx, block)
            if want_stats and _stats_eligible(meta.dtype):
                cell_stats[c] = _block_stat_pair(block, meta)
        return pd.DataFrame(
            {
                "cell": [cell],
                "rows": [len(pdf)],
                "stats": [json.dumps(cell_stats)],
            }
        )

    committed = out.groupBy("__cell").applyInPandas(
        write_new_cell, schema="cell long, rows long, stats string"
    )
    # every chunk has landed — NOW publish: per-array metadata (with
    # stats: provided cells from the tasks, absent cells are pure
    # fill, exactly what a reader materializes), then the root cache
    merge = StatsMerge(grid)
    with _commit_job(
        committed, want_stats, merge.n_entries <= STATS_MAX_OBJECTS
    ) as (written, stats_rows):
        if want_stats:
            stat_metas = _eligible(metas)
            _merge_stats(
                spark, store, path, stat_metas, merge, stats_rows,
                fills=_fill_pairs(stat_metas, fills),
            )
    for c in data_cols:
        store.set(
            f"{c}/zarr.json", json.dumps(metas[c].to_json()).encode()
        )
    consolidate_metadata(store)
    return written


def _refresh_store_cache(store) -> None:
    """Refresh the store's consolidated cache from the CURRENT
    per-array metadata, format-aware: a v3 store (root document
    present, or no v2 markers at all — e.g. an unconsolidated
    third-party v3 store) consolidates into the root zarr.json; a v2
    store rebuilds ``.zgroup``/``.zmetadata`` from the RAW
    ``.zarray``/``.zattrs`` bytes on disk (``consolidate_metadata``
    is v3-only and would plant a spurious v3 root; re-deriving the
    docs could alter a third-party codec spec — raw bytes cannot).
    One helper so every mutation path republishes both formats
    correctly."""
    names = store.list_array_names()
    is_v2 = not store.exists("zarr.json") and (
        store.exists(".zgroup")
        or store.exists(".zmetadata")
        or any(store.exists(f"{n}/.zarray") for n in names)
    )
    if not is_v2:
        from .zarr.writer import consolidate_metadata

        consolidate_metadata(store)
        return
    zgroup = {"zarr_format": 2}
    raw = store.get(".zgroup")
    if raw:
        try:
            zgroup = json.loads(raw)
        except json.JSONDecodeError:
            pass
    consolidated = {".zgroup": zgroup}
    graw = store.get(".zattrs")
    if graw:
        consolidated[".zattrs"] = json.loads(graw)
    for n in names:
        for doc in (".zarray", ".zattrs"):
            rawd = store.get(f"{n}/{doc}")
            if rawd is not None:
                consolidated[f"{n}/{doc}"] = json.loads(rawd)
    store.set(".zgroup", json.dumps(zgroup).encode())
    store.set(
        ".zmetadata",
        json.dumps(
            {"zarr_consolidated_format": 1, "metadata": consolidated}
        ).encode(),
    )


def drop_zarr_array(path: str, name: str) -> int:
    """Drop a data array (column) from a store — the ALTER TABLE DROP
    COLUMN counterpart of :func:`add_zarr_arrays`. Coordinate arrays
    are protected while any other array's ``dimension_names``
    references them. Returns the number of deleted objects.

    Delete order makes every intermediate state readable: the array's
    metadata goes first, the consolidated cache republishes without
    the array (v3 root document or v2 ``.zmetadata`` — a stale v2
    cache would resurrect the dropped column as pure fill), and only
    then do the (now unreachable) chunk objects drop — a reader
    racing the drop sees either the full column or a consistent store
    without it, never a half-deleted array. Driver-side,
    metadata-scale plus one delete per object."""
    from .zarr.array import open_array

    store = open_store(path)
    names = store.list_array_names()
    if name not in names:
        raise ZarrFormatError(
            f"Drop column: no array {name!r} in the store "
            f"(store has {sorted(names)})"
        )
    users = []
    for other in names:
        if other == name:
            continue
        dn = open_array(store, other).meta.dimension_names
        if dn is not None and name in tuple(dn):
            users.append(other)
    if users:
        raise ZarrFormatError(
            f"Drop column: {name!r} is a dimension of {sorted(users)} "
            f"— drop those arrays first"
        )
    # prefix walk, not a full-store scan: dropping one column of a
    # million-object store must not list every other column's chunks
    doomed = list(store.walk_prefix(name))
    meta_keys = [
        k
        for k in doomed
        if k.split("/", 1)[1] in ("zarr.json", ".zarray", ".zattrs")
    ]
    for k in meta_keys:
        store.delete(k)
    _refresh_store_cache(store)
    for k in doomed:
        if k not in meta_keys:
            store.delete(k)
    # sidecar statistics blocks (past-cap stores) go with the array
    from .zarr.stats import delete_sidecar

    delete_sidecar(store, name)
    return len(doomed)


def vacuum_zarr(path: str, dry_run: bool = True, *, spark=None) -> dict:
    """Garbage-collect a store: find (and with ``dry_run=False``
    delete) keys unreachable from the CURRENT metadata — staging
    leftovers from interrupted sink writes, chunk objects beyond the
    advertised grid (a crashed append's half-landed tail), and files
    belonging to no declared array. Completes the store-maintenance
    kit: :func:`audit_zarr` (fsck), :func:`describe_zarr` (stat),
    :func:`refresh_stats`, and this (gc).

    Returns ``{"orphans": [keys...], "deleted": bool}``.

    SAFETY: a concurrent append keeps its freshly-written chunks
    beyond the advertised shape *until its metadata publishes* — to a
    vacuum they are indistinguishable from crash debris. Only vacuum
    QUIESCED stores; ``dry_run`` defaults to True for exactly this
    reason. Reachability comes from the AUTHORITATIVE per-array
    metadata walk, never the consolidated cache: the Zarr spec allows
    the cache to be stale (an external append or a newly-added
    variable without re-consolidation), and a GC driven by it would
    delete live data. Cost is O(keys present): each present key is
    parsed loosely, then VERIFIED by re-encoding through the same
    ``chunk_key`` encoder readers and writers use — the encoder stays
    the single source of truth for key layout without enumerating a
    possibly-sparse grid (a (1e6)^2-cell store with a thousand real
    objects must not materialize 1e12 candidate keys)."""
    from .zarr.array import open_array

    store = open_store(path)
    metas = {}
    for name in store.list_array_names():
        metas[name] = open_array(store, name).meta
    meta_names = {"zarr.json", ".zarray", ".zattrs", ".zgroup"}
    # the streaming sinks' exactly-once batch markers are LIVE state:
    # vacuuming them would make the next recovery replay re-apply
    from .streaming.zarr_sink import SINK_MARKER_KEYS

    root_keys = {
        "zarr.json", ".zgroup", ".zattrs", ".zmetadata",
    } | set(SINK_MARKER_KEYS)

    from .zarr.versions import VERSIONS_PREFIX

    from .zarr.stats import STATS_SIDECAR_PREFIX

    def reachable(key: str) -> bool:
        if key.startswith(VERSIONS_PREFIX):
            return True  # committed snapshots are live state, not debris
        if key.startswith(STATS_SIDECAR_PREFIX + "/"):
            # sidecar statistics blocks for a LIVE array are state;
            # blocks for a dropped/renamed-away array are debris
            owner = key.split("/", 2)[1] if key.count("/") >= 2 else ""
            return owner in metas
        if key in root_keys:
            return True
        name, _, rest = key.partition("/")
        m = metas.get(name)
        if m is None or not rest:
            return False
        if rest in meta_names:
            return True
        # loose parse -> strict verify: accept only if re-encoding the
        # candidate indices reproduces the key exactly AND they are
        # inside the advertised grid
        parts = rest.split(m.separator or ("." if m.key_encoding == "v2" else "/"))
        if m.key_encoding != "v2":
            if not parts or parts[0] != "c":
                return False
            parts = parts[1:]
        try:
            idx = tuple(int(p) for p in parts)
        except ValueError:
            return False
        grid = m.chunk_grid_shape
        if len(idx) != len(grid):
            # 0-dim arrays: the valid key is chunk_key(()) itself
            return m.ndim == 0 and rest == m.chunk_key(())
        if any(not 0 <= i < g for i, g in zip(idx, grid)):
            return False
        return rest == m.chunk_key(idx)

    from .zarr import versions as _V

    probe = (
        None
        if spark is None
        else store.probe_keys(
            _V.MAINT_DRIVER_LIST_MAX, skip_prefixes=(VERSIONS_PREFIX,)
        )
    )
    if spark is None or probe is not None:
        keys = (
            probe
            if probe is not None
            else (
                k
                for k in store.walk_keys()
                if not k.startswith(VERSIONS_PREFIX)
            )
        )
        orphans = sorted(k for k in keys if not reachable(k))
        if not dry_run:
            for k in orphans:
                store.delete(k)
        return {
            "orphans": orphans,
            "n_orphans": len(orphans),
            "deleted": not dry_run,
        }
    # r10 distributed tier: past the maintenance cap the listing fans
    # out per top-level subtree, reachability evaluates inside the
    # tasks (metas are metadata-scale and ride the closure), deletes
    # run executor-parallel, and the receipt carries a count plus a
    # 100-key sample instead of the full orphan list. ``.versions/``
    # is skipped at the listing (reachable by definition).
    orphan_rdd = (
        _V._live_keys_rdd(spark, path, include_staging=True).filter(
            lambda k: not reachable(k)
        )
    ).persist()
    try:
        sample = sorted(orphan_rdd.take(100))
        if dry_run:
            n = orphan_rdd.count()
        else:

            def sweep(keys):
                task_store = open_store(path)
                for k in keys:
                    task_store.delete(k)
                    yield 1

            n = orphan_rdd.mapPartitions(sweep).count()
    finally:
        orphan_rdd.unpersist()
    return {"orphans": sample, "n_orphans": n, "deleted": not dry_run}


def replicate_zarr(
    spark,
    src: str,
    dst: str,
    include_versions: bool = False,
    verify: bool = True,
    mode: str = "error",
    n_partitions: Optional[int] = None,
) -> dict:
    """Distributed store replication — the migration/DR verb for the
    maintenance kit (fsck=:func:`audit_zarr`, stat=:func:`describe_zarr`,
    gc=:func:`vacuum_zarr`, diff=:func:`diff_zarr`; this is cp with a
    receipt). Copies every live key of ``src`` to ``dst`` and, with
    ``verify=True``, proves each object landed byte-identical by
    re-reading the REPLICA and comparing sha256 digests — a replication
    report that says "copied" without re-reading proves only that the
    PUT call returned. The reference has no maintenance surface at
    all (its store access is read-only scanning, config.rs:126-132).

    Readers of an in-progress replica never see dangling metadata:
    chunk/data objects copy FIRST (one distributed pass), metadata
    documents publish after, deepest-first with root documents last —
    the same metadata-last protocol as the writers. With
    ``include_versions=True`` the ``.versions/`` history (content
    objects, manifests, tags, HEAD) replicates too, manifests after
    objects for the same reason.

    ``mode``: ``"error"`` (default) refuses a non-empty destination;
    ``"overwrite"`` clears it first.

    Returns ``{"n_objects", "n_bytes", "n_meta_docs", "n_verified",
    "n_mismatch"}`` — and raises on any verify mismatch rather than
    returning a nonzero count a caller might ignore.

    Scale shape: the work list is the key listing (metadata-sized);
    bytes move executor-parallel, one GET + one PUT (+ one verify GET)
    per object, nothing through the driver but counts. Wall time is
    one full read + write of the store divided by the cluster."""
    from .zarr.versions import VERSIONS_PREFIX

    if mode not in ("error", "overwrite"):
        raise ValueError(f"replicate_zarr: unknown mode {mode!r}")
    src_store = open_store(src)
    dst_store = open_store(dst)
    existing = next(iter(dst_store.walk_keys()), None)
    if existing is not None:
        if mode == "error":
            raise ZarrFormatError(
                f"replicate_zarr: destination {dst!r} is not empty "
                f"(found {existing!r}); pass mode='overwrite' to clear"
            )
        _clear_store(dst_store, spark=spark)
        # an overwritten replica must not inherit the old history —
        # its content-object area can be huge: sweep the object
        # shards distributed past the cap (the manifests/tags/HEAD
        # remainder is metadata-scale and driver-walks below)
        from .zarr import versions as _Vc

        if (
            spark is not None
            and _Vc._probe_prefix(
                dst_store, VERSIONS_PREFIX, _Vc.MAINT_DRIVER_LIST_MAX
            )
            is None
        ):

            def _sweep_versions(keys):
                d = open_store(dst)
                for k in keys:
                    d.delete(k)
                    yield 1

            _Vc._object_keys_rdd(spark, dst).mapPartitions(
                _sweep_versions
            ).count()
        for k in list(dst_store.walk_prefix(VERSIONS_PREFIX)):
            dst_store.delete(k)

    meta_basenames = {
        "zarr.json", ".zarray", ".zattrs", ".zgroup", ".zmetadata",
    }
    version_meta_prefix = VERSIONS_PREFIX + "manifests/"
    version_tag_prefix = VERSIONS_PREFIX + "tags/"
    version_head = VERSIONS_PREFIX + "HEAD.json"

    def is_meta(k: str) -> bool:
        if k.startswith(VERSIONS_PREFIX):
            return (
                k.startswith(version_meta_prefix)
                or k.startswith(version_tag_prefix)
                or k == version_head
            )
        return k.split("/")[-1] in meta_basenames

    def copy_batch(keys: Iterator[str]):
        """One summary row per partition — the driver aggregates
        counts, never a per-key row (r10: the old per-key collect was
        the one O(n_keys) driver term left in this verb)."""
        s_store = open_store(src)
        d_store = open_store(dst)
        n = n_bytes = n_verified = n_bad = 0
        bad_sample: List[str] = []
        for key in keys:
            data = s_store.get(key)
            if data is None:
                raise ZarrFormatError(
                    f"replicate_zarr: key {key!r} vanished mid-copy — "
                    f"replicate only quiesced stores"
                )
            d_store.set(key, data)
            n += 1
            n_bytes += len(data)
            if verify:
                n_verified += 1
                # re-read and compare bytes directly — both buffers
                # are already in memory, hashing would double CPU
                if d_store.get(key) != data:
                    n_bad += 1
                    if len(bad_sample) < 10:
                        bad_sample.append(key)
        yield (n, n_bytes, n_verified, n_bad, bad_sample)

    from .zarr import versions as _V

    skip = ("__stage__",) + (
        () if include_versions else (VERSIONS_PREFIX,)
    )
    probe = (
        None
        if spark is None
        else src_store.probe_keys(
            _V.MAINT_DRIVER_LIST_MAX, skip_prefixes=skip
        )
    )
    if spark is None or probe is not None:
        # driver-list tier (spark=None keeps the unbounded serial walk
        # for tools/tests; with spark the probe bounded it)
        keys = (
            probe
            if probe is not None
            else [
                k
                for k in src_store.walk_keys()
                if not k.startswith("__stage__")
                and (include_versions or not k.startswith(VERSIONS_PREFIX))
            ]
        )
        data_keys = sorted(k for k in keys if not is_meta(k))
        meta_keys = sorted(k for k in keys if is_meta(k))
        if spark is None or not data_keys:
            rows = list(copy_batch(iter(data_keys)))
        else:
            sc = spark.sparkContext
            n_parts = n_partitions or max(
                1, min(len(data_keys), sc.defaultParallelism * 2)
            )
            rows = (
                sc.parallelize(data_keys, n_parts)
                .mapPartitions(copy_batch)
                .collect()
            )
    else:
        # r10 distributed tier: no driver key list. Live keys fan out
        # per top-level subtree; with include_versions the content-
        # object area fans out per hash shard (objects/00..ff) and the
        # metadata-scale manifests/tags/HEAD list from the driver.
        live = _V._live_keys_rdd(spark, src)
        data_rdd = live.filter(lambda k: not is_meta(k))
        meta_keys = sorted(live.filter(is_meta).collect())  # per-array docs
        if include_versions:
            data_rdd = data_rdd.union(_V._object_keys_rdd(spark, src))
            meta_keys += sorted(
                src_store.walk_prefix(version_meta_prefix)
            ) + sorted(src_store.walk_prefix(version_tag_prefix))
            if src_store.exists(version_head):
                meta_keys.append(version_head)
        if n_partitions:
            data_rdd = data_rdd.repartition(n_partitions)
        rows = data_rdd.mapPartitions(copy_batch).collect()

    n_data = sum(r[0] for r in rows)
    n_bytes = sum(r[1] for r in rows)
    n_verified = sum(r[2] for r in rows)
    mismatched = [k for r in rows for k in r[4]]
    n_mismatch = sum(r[3] for r in rows)

    # metadata publishes last, deepest paths first so root documents
    # (consolidated zarr.json / .zmetadata) land at the very end
    for key in sorted(meta_keys, key=lambda k: (-k.count("/"), k)):
        data = src_store.get(key)
        if data is None:
            raise ZarrFormatError(
                f"replicate_zarr: metadata key {key!r} vanished mid-copy"
            )
        dst_store.set(key, data)
        n_bytes += len(data)
        if verify:
            echo = dst_store.get(key)
            if echo != data:
                mismatched.append(key)
                n_mismatch += 1
            n_verified += 1

    if n_mismatch:
        raise ZarrFormatError(
            f"replicate_zarr: {n_mismatch} object(s) failed byte "
            f"verification at {dst!r} (first: {mismatched[0]!r}) — the "
            f"replica is NOT trustworthy"
        )
    return {
        "n_objects": n_data,
        "n_bytes": n_bytes,
        "n_meta_docs": len(meta_keys),
        "n_verified": n_verified,
        "n_mismatch": 0,
    }


def rename_zarr_array(
    path: str, old: str, new: str, spark=None
) -> int:
    """ALTER ... RENAME COLUMN for a store — completes the ALTER
    surface (:func:`add_zarr_arrays` ADD, :func:`drop_zarr_array`
    DROP). Renaming a COORDINATE axis also rewrites the
    ``dimension_names`` of every array that maps onto it (and the
    axis's own), so the coordinate join semantics follow the new
    name; renaming a plain data column touches nothing else.

    Crash-safe copy-first protocol — the source column stays intact
    and readable until the very last step:

    1. chunk objects copy to ``new/`` (distributed when ``spark`` is
       passed; chunks-without-metadata are invisible to readers);
    2. the array's metadata publishes under ``new/`` (dims renamed);
    3. referencing arrays' metadata rewrites (v3 ``dimension_names``
       / v2 ``_ARRAY_DIMENSIONS``);
    4. the consolidated cache republishes (both columns briefly
       visible — a readable state);
    5. ``old/`` deletes, metadata first, and the cache republishes
       without it.

    A crash at any point leaves a readable store; at worst the
    duplicate column remains for a re-run (or ``drop_zarr_array``).
    Returns the number of objects moved. Object-store note: copies
    are GET+PUT here; wire server-side copy into the Store backend
    for a remote rename.

    Two tiers on MAINT_DRIVER_LIST_MAX (r11 — the last maintenance
    verb outside the bounded-probe discipline): at or under it the
    column's keys list on the driver (one probe, small-store
    latency); past it NO driver key list exists anywhere — the copy
    and delete work lists are chunk ORDINALS (``sc.range`` over the
    grid, pure metadata arithmetic; never-written fill cells skip),
    and the post-delete residual sweep walks only what the ordinal
    jobs could not account for (O(debris), not O(n_objects))."""
    import json as _json

    from .zarr import versions as _V
    from .zarr.array import open_array

    store = open_store(path)
    names = store.list_array_names()
    if old not in names:
        raise ZarrFormatError(
            f"Rename column: no array {old!r} in the store "
            f"(store has {sorted(names)})"
        )
    if new in names:
        raise ZarrFormatError(
            f"Rename column: target name {new!r} already exists"
        )
    if not new or "/" in new:
        raise ZarrFormatError(
            f"Rename column: invalid target name {new!r}"
        )

    meta_leaves = ("zarr.json", ".zarray", ".zattrs")
    probe = (
        _V._probe_prefix(store, old, _V.MAINT_DRIVER_LIST_MAX)
        if spark is not None
        else None
    )
    distributed = spark is not None and probe is None
    if distributed:
        # ordinal-driven tier: keys come from the chunk grid, never a
        # listing. Fixed metadata leaves probe directly.
        meta_keys = [
            f"{old}/{leaf}"
            for leaf in meta_leaves
            if store.exists(f"{old}/{leaf}")
        ]
        data_keys = None
        src_meta = open_array(store, old).meta
        sc = spark.sparkContext
        n_obj = int(src_meta.n_chunks)
        n_parts = max(
            1,
            min(
                n_obj,
                max(sc.defaultParallelism * 2, n_obj // (1 << 16)),
            ),
        )
        meta_b = sc.broadcast(src_meta)
        path_t, old_t, new_t = path, old, new

        def _idx(ordinal, grid):
            out = []
            rem = int(ordinal)
            for r in reversed(grid):
                out.append(rem % r)
                rem //= r
            return tuple(reversed(out))

        def copy_objects(ordinals):
            task_store = open_store(path_t)
            m = meta_b.value
            grid = tuple(int(g) for g in m.chunk_grid_shape)
            n = 0
            for o in ordinals:
                rel = m.chunk_key(_idx(o, grid))
                data = task_store.get(f"{old_t}/{rel}")
                if data is None:
                    continue  # never-written chunk: a fill-value cell
                task_store.set(f"{new_t}/{rel}", data)
                n += 1
            yield n

        n_copied = sum(
            sc.range(0, n_obj, numSlices=n_parts)
            .mapPartitions(copy_objects)
            .collect()
        )
    else:
        all_old = sorted(
            probe
            if probe is not None
            else store.walk_prefix(old)  # spark=None: serial caller
        )
        meta_set = {
            k for k in all_old if k.split("/", 1)[1] in meta_leaves
        }
        meta_keys = sorted(meta_set)
        data_keys = [k for k in all_old if k not in meta_set]

        # 1. chunk objects copy first (invisible until metadata lands)
        def copy_keys(keys):
            task_store = open_store(path)
            for k in keys:
                data = task_store.get(k)
                if data is None:
                    raise ZarrFormatError(
                        f"Rename column: key {k!r} vanished mid-rename"
                    )
                task_store.set(f"{new}/{k.split('/', 1)[1]}", data)
                yield 1

        if spark is None or not data_keys:
            list(copy_keys(iter(data_keys)))
        else:
            sc = spark.sparkContext
            n_parts = max(
                1, min(len(data_keys), sc.defaultParallelism * 2)
            )
            sc.parallelize(data_keys, n_parts).mapPartitions(
                copy_keys
            ).count()
        n_copied = len(data_keys)

    def renamed_dims(doc_key: str, raw: bytes) -> bytes:
        leaf = doc_key.rsplit("/", 1)[-1]
        doc = _json.loads(raw)
        if leaf == "zarr.json" and doc.get("dimension_names"):
            doc["dimension_names"] = [
                new if d == old else d for d in doc["dimension_names"]
            ]
        if leaf == ".zattrs" and doc.get("_ARRAY_DIMENSIONS"):
            doc["_ARRAY_DIMENSIONS"] = [
                new if d == old else d
                for d in doc["_ARRAY_DIMENSIONS"]
            ]
        return _json.dumps(doc, sort_keys=True).encode()

    # 2. the renamed array's own metadata
    for k in meta_keys:
        raw = store.get(k)
        if raw is None:
            raise ZarrFormatError(
                f"Rename column: metadata {k!r} vanished mid-rename"
            )
        store.set(f"{new}/{k.split('/', 1)[1]}", renamed_dims(k, raw))

    # 3. referencing arrays follow the dimension rename
    for other in names:
        if other == old:
            continue
        dn = open_array(store, other).meta.dimension_names
        if dn is None or old not in tuple(dn):
            continue
        for leaf in meta_leaves:
            k = f"{other}/{leaf}"
            raw = store.get(k)
            if raw is not None:
                store.set(k, renamed_dims(k, raw))

    # 3b. sidecar statistics blocks follow the array (past-cap stores
    # keep entries under __stats__/<name>/ with a marker attribute —
    # the marker copied with the metadata in step 2, so the blocks
    # must exist under the new name before the cache republishes;
    # metadata-scale: one move per block)
    from .zarr.stats import STATS_SIDECAR_PREFIX as _SP

    for k in sorted(store.walk_prefix(f"{_SP}/{old}")):
        store.move(k, f"{_SP}/{new}/{k.split('/', 2)[2]}")

    # 4. republish the cache (both names readable), then retire old
    _refresh_store_cache(store)
    for k in meta_keys:
        store.delete(k)
    _refresh_store_cache(store)
    if not distributed:
        for k in data_keys:
            store.delete(k)
        return len(data_keys) + len(meta_keys)

    def delete_objects(ordinals):
        task_store = open_store(path_t)
        m = meta_b.value
        grid = tuple(int(g) for g in m.chunk_grid_shape)
        n = 0
        for o in ordinals:
            k = f"{old_t}/{m.chunk_key(_idx(o, grid))}"
            if task_store.exists(k):
                task_store.delete(k)
                n += 1
        yield n

    sc.range(0, n_obj, numSlices=n_parts).mapPartitions(
        delete_objects
    ).count()
    # residual sweep: with every enumerable chunk object and metadata
    # leaf gone, whatever remains under old/ is foreign debris a
    # third-party writer parked there — O(debris) by construction.
    # Bounded for driver safety by a FLOORED cap (not the raw tier
    # cutover: tests force that to 0 to pick the tier, which must not
    # outlaw legitimate small debris). Moved, not dropped (the serial
    # tier carries such keys across too).
    import itertools as _it

    residual_cap = max(_V.MAINT_DRIVER_LIST_MAX, 1 << 16)
    residual = list(
        _it.islice(store.walk_prefix(old), residual_cap + 1)
    )
    if len(residual) > residual_cap:
        raise ZarrFormatError(
            f"Rename column: more than {residual_cap} "
            f"non-chunk keys remain under {old!r} after the ordinal "
            "sweep — the store's layout does not match its metadata"
        )
    for k in residual:
        store.move(k, f"{new}/{k.split('/', 1)[1]}")
    return n_copied + len(meta_keys) + len(residual)
