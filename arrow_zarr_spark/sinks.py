"""``df.write.format("zarr")`` — the DataSource writer half.

Zarr's regular chunk grid needs global row positions, which executor
tasks can't know while writing independently. Two sinks exist:

- :func:`arrow_zarr_spark.io.write_zarr` — order-preserving, two Spark
  jobs (count pass then chunk-colocated writes). Use when row order
  matters (it reproduces the DataFrame's partition order).
- this module — single-pass `df.write.format("zarr")`: each task
  streams its Arrow batches into full ``chunk_rows``-sized chunks
  written immediately under a job+task-scoped staging prefix, plus one
  small leftover buffer; ``commit()`` assigns global chunk positions
  (an ``os.replace`` rename on local stores — no byte copy; a
  get+set fallback on backends without renames), packs all leftovers
  into tail chunks, then publishes the metadata LAST (readers and the
  zarr-stream source trust the advertised shape, so chunks must land
  first), and clears this job's staging. Rows land whole, but ROW
  ORDER ACROSS TASKS IS NOT PRESERVED (like most distributed sinks).
  Bytes moved through the driver at commit: only the leftovers
  (≤ tasks × chunk_rows); full chunks move by rename.

Append mode extends an existing store and validates the full layout
first — column set, dtype, chunk size, chunk-multiple row count, codec
chain, fill value, and key encoding must match, because staged chunks
are encoded with this writer's settings and become part of the store
as-is.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass
from typing import Dict, Iterator, List, Optional

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    WriterCommitMessage,
)

from .io import (
    _block_stat_pair,
    _clear_store,
    _eligible,
    _merge_stats,
    _recorded_stats,
    _stats_eligible,
    _zarr_dtype_for,
)
from .zarr.codecs import default_codecs, encode_chunk
from .zarr.meta import ArrayMeta, ZarrFormatError
from .zarr.stats import StatsMerge
from .zarr.store import open_store
from .zarr.writer import write_chunk, write_root_group

__all__ = ["ZarrWriter", "ZarrCommitMessage"]


@dataclass
class ZarrCommitMessage(WriterCommitMessage):
    task_id: str
    n_full_chunks: int
    leftover_rows: int
    #: per staged full chunk: {col: [min, max]} for stats-eligible
    #: columns (empty dicts when stats are disabled) — rides the
    #: commit message so renamed chunks never need re-reading
    chunk_stats: Optional[List[dict]] = None


def _pack_leftover(names, arrays: Dict[str, np.ndarray]) -> bytes:
    """Pickle-free staging format for tail rows: per column a name +
    dtype header, then raw little-endian bytes for numerics or the
    vlen-utf8 codec's length-prefixed UTF-8 layout for strings.
    ``np.savez`` would pickle object-dtype (string) columns, and
    ``np.load(allow_pickle=True)`` at commit time would execute
    arbitrary bytes if any other principal wrote the (predictable)
    staging path between task finish and commit."""
    import struct

    parts = []
    for n in names:
        a = np.ascontiguousarray(arrays[n])
        if a.dtype.kind in ("O", "U", "S"):
            body = [struct.pack("<I", a.size)]
            for s in a.ravel():
                b = s if isinstance(s, bytes) else str(s).encode("utf-8")
                body.append(struct.pack("<I", len(b)) + b)
            payload, dt = b"".join(body), b"O"
        else:
            payload, dt = a.tobytes(), a.dtype.str.encode("ascii")
        nb = n.encode("utf-8")
        parts.append(
            struct.pack("<I", len(nb))
            + nb
            + struct.pack("<I", len(dt))
            + dt
            + struct.pack("<Q", len(payload))
            + payload
        )
    return b"".join(parts)


def _unpack_leftover(names, raw: bytes) -> Dict[str, np.ndarray]:
    """Inverse of :func:`_pack_leftover`; validates column names so a
    schema/order drift between write and commit fails loudly. A
    truncated or short staging object (crashed task, eventually-
    consistent store) surfaces as :class:`ZarrFormatError` too, not a
    raw ``struct.error``, so commit() callers see one error type."""
    import struct

    try:
        return _unpack_leftover_inner(names, raw, struct)
    except (struct.error, ValueError, UnicodeDecodeError) as exc:
        raise ZarrFormatError(
            f"staged leftover bytes are truncated or malformed: {exc}"
        ) from exc


def _unpack_leftover_inner(names, raw: bytes, struct) -> Dict[str, np.ndarray]:
    out: Dict[str, np.ndarray] = {}
    pos = 0
    for n in names:
        (nlen,) = struct.unpack_from("<I", raw, pos)
        pos += 4
        got = raw[pos : pos + nlen].decode("utf-8")
        pos += nlen
        if got != n:
            raise ZarrFormatError(
                f"staged leftover column {got!r} does not match "
                f"expected {n!r}"
            )
        (dlen,) = struct.unpack_from("<I", raw, pos)
        pos += 4
        dt = raw[pos : pos + dlen].decode("ascii")
        pos += dlen
        (nb,) = struct.unpack_from("<Q", raw, pos)
        pos += 8
        payload = raw[pos : pos + nb]
        pos += nb
        if dt == "O":
            (cnt,) = struct.unpack_from("<I", payload, 0)
            vals = np.empty(cnt, dtype=object)
            p = 4
            for i in range(cnt):
                (ln,) = struct.unpack_from("<I", payload, p)
                p += 4
                vals[i] = payload[p : p + ln].decode("utf-8")
                p += ln
            out[n] = vals
        else:
            out[n] = np.frombuffer(payload, dtype=np.dtype(dt))
    if pos != len(raw):
        raise ZarrFormatError(
            f"staged leftover has {len(raw) - pos} trailing bytes"
        )
    return out


def _final_metas(schema, total_rows, eff_chunk, fill_value, compression):
    from pyspark.sql import types as T

    from .io import _codecs_for_field

    return {
        f.name: ArrayMeta(
            name=f.name,
            shape=(total_rows,),
            chunk_shape=(eff_chunk,),
            zarr_dtype=_zarr_dtype_for(f),
            fill_value=(
                "" if f.dataType == T.StringType() else fill_value
            ),
            # string columns take the vlen-utf8 chain; numeric the
            # plain bytes chain (the sink has no shard option)
            codecs=_codecs_for_field(f, eff_chunk, None, compression),
        )
        for f in schema.fields
    }


def _existing_layout(store, schema, chunk_rows, fill_value, compression):
    """For append mode: (existing_rows, existing_chunks) of a layout-
    compatible existing store, or (0, 0) for a fresh path. Any layout
    difference errors — staged chunks are encoded with THIS writer's
    settings and must be byte-compatible with the store."""
    if not store.exists("zarr.json"):
        return 0, 0
    from .zarr.array import infer_store_arrays

    arrays = infer_store_arrays(store)
    by_name = {a.meta.name: a for a in arrays}
    names = [f.name for f in schema.fields]
    if sorted(by_name) != sorted(names):
        raise ZarrFormatError(
            "Append schema mismatch: store has "
            f"{sorted(by_name)}, writing {sorted(names)}"
        )
    want = _final_metas(schema, 0, chunk_rows, fill_value, compression)
    rows = by_name[names[0]].meta.shape[0]
    for a in arrays:
        m, w = a.meta, want[a.meta.name]
        if m.ndim != 1 or m.shape[0] != rows:
            raise ZarrFormatError("Append target must be a 1-D table store")
        if m.chunk_shape[0] != chunk_rows:
            raise ZarrFormatError(
                f"Append chunk_rows {chunk_rows} != store chunk size "
                f"{m.chunk_shape[0]}"
            )
        if m.zarr_dtype != w.zarr_dtype:
            raise ZarrFormatError(
                f"Append dtype mismatch for {m.name!r}: store has "
                f"{m.zarr_dtype}, writing {w.zarr_dtype}"
            )
        if m.codecs != w.codecs:
            raise ZarrFormatError(
                f"Append codec mismatch for {m.name!r}: store uses "
                f"{m.codecs}, writer configured {w.codecs} — pass the "
                "store's compression option"
            )
        if m.fill_value != w.fill_value:
            raise ZarrFormatError(
                f"Append fill_value mismatch for {m.name!r}"
            )
        if m.key_encoding != "default":
            raise ZarrFormatError(
                "Append target uses non-default chunk-key encoding"
            )
    if rows % chunk_rows != 0:
        raise ZarrFormatError(
            "Append target's row count is not a chunk multiple "
            f"({rows} % {chunk_rows} != 0); rewrite with mode('overwrite')"
        )
    return rows, rows // chunk_rows


class ZarrWriter(DataSourceArrowWriter):
    """write() runs per task on executors; commit()/abort() on the
    driver with every task's commit message. Staging is scoped by a
    per-job id so concurrent writers to one path can't clobber each
    other's staged data."""

    def __init__(
        self, path: str, schema, options: Dict[str, str], overwrite: bool
    ):
        self.path = path
        self.schema = schema
        self.job_id = uuid.uuid4().hex
        self.chunk_rows = int(options.get("chunk_rows", 65536) or 65536)
        if self.chunk_rows <= 0:
            raise ZarrFormatError("chunk_rows must be positive")
        self.overwrite = overwrite
        self.fill_value = float(options.get("fill_value", 0) or 0)
        self.compression = options.get("compression", "zstd")
        self.stats = str(options.get("stats", "true")).lower() != "false"
        self.fields = list(schema.fields)
        for f in self.fields:
            _zarr_dtype_for(f)  # validate types before any work
        if not overwrite:
            # Spark only offers Append/Overwrite for Python data
            # sources; append extends an aligned existing store (or
            # creates a fresh one). Validate at plan time, not commit.
            _existing_layout(
                open_store(path),
                schema,
                self.chunk_rows,
                self.fill_value,
                self.compression,
            )

    def _stage(self, task_id: str) -> str:
        return f"__stage__/{self.job_id}/{task_id}"

    def write(self, iterator: Iterator[pa.RecordBatch]) -> ZarrCommitMessage:
        task_id = uuid.uuid4().hex
        store = open_store(self.path)
        names = [f.name for f in self.fields]
        metas = _final_metas(
            self.schema,
            self.chunk_rows,
            self.chunk_rows,
            self.fill_value,
            self.compression,
        )
        buffers: Dict[str, List[np.ndarray]] = {n: [] for n in names}
        buffered = 0
        n_full = 0
        chunk_stats: List[dict] = []

        def flush_full():
            nonlocal buffered, n_full
            while buffered >= self.chunk_rows:
                obj_stats: dict = {}
                for n in names:
                    joined = np.concatenate(buffers[n])
                    head, rest = (
                        joined[: self.chunk_rows],
                        joined[self.chunk_rows :],
                    )
                    buffers[n] = [rest]
                    store.set(
                        f"{self._stage(task_id)}/{n_full}/{n}",
                        encode_chunk(
                            metas[n], np.ascontiguousarray(head)
                        ),
                    )
                    if self.stats and _stats_eligible(metas[n].dtype):
                        obj_stats[n] = _block_stat_pair(head, metas[n])
                chunk_stats.append(obj_stats)
                buffered -= self.chunk_rows
                n_full += 1

        for batch in iterator:
            for i, name in enumerate(batch.schema.names):
                col = batch.column(i)
                if col.null_count:
                    raise ZarrFormatError(
                        f"Column {name!r} contains NULLs; Zarr has no "
                        "null representation — fillna()/dropna() before "
                        "writing"
                    )
                buffers[name].append(
                    np.asarray(
                        col.to_numpy(zero_copy_only=False),
                        dtype=metas[name].dtype,
                    )
                )
            buffered += batch.num_rows
            flush_full()

        leftover = 0
        if buffered:
            store.set(
                f"{self._stage(task_id)}/leftover",
                _pack_leftover(
                    names, {n: np.concatenate(buffers[n]) for n in names}
                ),
            )
            leftover = buffered
        return ZarrCommitMessage(task_id, n_full, leftover, chunk_stats)

    def commit(self, messages) -> None:
        store = open_store(self.path)
        msgs = [m for m in messages if m is not None]
        names = [f.name for f in self.fields]

        base_rows, base_chunks = (
            (0, 0)
            if self.overwrite
            else _existing_layout(
                store,
                self.schema,
                self.chunk_rows,
                self.fill_value,
                self.compression,
            )
        )
        total_full = sum(m.n_full_chunks for m in msgs)
        total_leftover = sum(m.leftover_rows for m in msgs)
        total_rows = base_rows + total_full * self.chunk_rows + total_leftover
        # appends must keep the existing chunk size; fresh writes may
        # shrink the chunk to the data size
        eff_chunk = (
            self.chunk_rows
            if base_rows
            else min(self.chunk_rows, max(total_rows, 1))
        )

        if self.overwrite:
            _clear_store(store, keep_staging=True)

        metas = _final_metas(
            self.schema,
            total_rows,
            eff_chunk,
            self.fill_value,
            self.compression,
        )

        # per-object stats of the chunks this commit places, keyed by
        # the same chunk positions as the renames/writes below (stats
        # disabled -> metas stay attribute-free, so stale stats can
        # never survive a layout change)
        stat_metas = _eligible(metas) if self.stats else {}
        written: Dict[str, Dict[int, list]] = {n: {} for n in stat_metas}
        olds = _recorded_stats(store, set(stat_metas)) if base_rows else {}

        # 1) staged full chunks -> global positions (rename, no copy);
        #    their stats rode the commit messages, no re-read needed
        next_chunk = base_chunks
        for m in msgs:
            m_stats = m.chunk_stats or []
            for i in range(m.n_full_chunks):
                for n in names:
                    store.move(
                        f"{self._stage(m.task_id)}/{i}/{n}",
                        f"{n}/{metas[n].chunk_key((next_chunk,))}",
                    )
                if i < len(m_stats):
                    for n, pair in m_stats[i].items():
                        if n in written:
                            written[n][next_chunk] = pair
                next_chunk += 1

        # 2) leftovers (each < chunk_rows) -> packed tail chunks
        tails: Dict[str, List[np.ndarray]] = {n: [] for n in names}
        for m in msgs:
            if not m.leftover_rows:
                continue
            raw = store.get(f"{self._stage(m.task_id)}/leftover")
            if raw is None:
                raise ZarrFormatError(
                    f"Missing staged leftover {m.task_id}"
                )
            unpacked = _unpack_leftover(names, raw)
            for n in names:
                tails[n].append(unpacked[n])
        if total_leftover:
            packed = {n: np.concatenate(tails[n]) for n in names}
            pos = 0
            while pos < total_leftover:
                take = min(eff_chunk, total_leftover - pos)
                for n in names:
                    part = packed[n][pos : pos + take]
                    write_chunk(store, metas[n], (next_chunk,), part)
                    if n in written:
                        written[n][next_chunk] = _block_stat_pair(
                            np.asarray(part, dtype=metas[n].dtype), metas[n]
                        )
                next_chunk += 1
                pos += take

        # 3) metadata LAST — concurrent readers / the zarr-stream source
        #    trust the advertised shape, so every chunk must land first.
        #    Root doc goes last of all, carrying the consolidated block
        #    (readers plan each poll from one GET). Past the inline cap
        #    the entries go to sidecar blocks, so a long-running stream
        #    can never grow zarr.json into an unparseable planning
        #    document; an append rewrites only the blocks from the old
        #    end onward, with no delete-then-rewrite window (a reader
        #    holding the old marker sees consistent old blocks until
        #    the new metadata publishes; an extended boundary block
        #    fails its length check and degrades to no-pruning, never
        #    to wrong).
        import json

        n_units = -(-total_rows // eff_chunk) if total_rows else 0
        _merge_stats(
            None, store, self.path, stat_metas,
            StatsMerge((n_units,), (base_chunks,) if base_chunks else None),
            written, olds,
        )
        for n in names:
            store.set(f"{n}/zarr.json", json.dumps(metas[n].to_json()).encode())
        write_root_group(
            store, consolidated={n: metas[n].to_json() for n in names}
        )

        self.abort(msgs)  # clear this job's staging

    def abort(self, messages) -> None:
        store = open_store(self.path)
        # this job's staging subtree only: listing the whole store
        # would cost every chunk key of the target per commit
        for key in list(store.walk_prefix(f"__stage__/{self.job_id}")):
            store.delete(key)
        # tidy empty local staging dirs (best effort)
        import os as _os
        import shutil as _shutil

        job_dir = getattr(store, "_path", lambda k: None)(
            f"__stage__/{self.job_id}"
        )
        if job_dir and _os.path.isdir(job_dir):
            _shutil.rmtree(job_dir, ignore_errors=True)
            stage_root = store._path("__stage__")
            try:
                _os.rmdir(stage_root)  # only if now empty
            except OSError:
                pass
