"""Sharded sidecar storage for per-object [min, max] statistics.

Writer statistics (``STATS_ATTR_KEY``) normally live inline in each
array's attribute JSON — one [lo, hi] pair per store object, parsed by
every planner. That is O(n_objects) metadata: fine at shard
granularity, ruinous on a million-object array (a multi-hundred-MB
zarr.json). Before round 8 the writers simply DROPPED stats past
``STATS_MAX_OBJECTS`` — losing planning-time pruning on exactly the
billion-object stores that need it most (r7 verdict item 5).

This module keeps pruning alive at any object count by moving
past-cap entry lists into fixed-size sidecar blocks::

    __stats__/<array>/<block>.json   # JSON list of up to
                                     # STATS_BLOCK_ENTRIES entries

while the attribute value becomes a tiny marker document::

    {"sidecar": 3, "n_entries": 180000, "block_entries": 65536}

(``sidecar`` = format version-cum-block-count; readers validate the
reassembled length). The planner resolves the marker LAZILY — blocks
load only during a pruning pass, only for predicate columns — so
un-filtered scans never touch the sidecar, and zarr.json stays
planning-readable forever.

Soundness bar (same as inline stats): anything malformed — missing
block, wrong reassembled length, non-list content — resolves to None
and the reader treats the column as unknown. Bad stats may only ever
KEEP cells.

Every write verb merges its statistics under ONE rule,
:func:`merge_entries` over a :class:`StatsMerge` (the old-to-new
ordinal geometry) and a :class:`RecordedStats` (the old entries, read
one block at a time). :func:`store_merged` is its driver placement;
``io.py`` holds the one Spark placement (one task per changed block)
for writes whose committed rows stay in a persisted frame.

The reference records no statistics at all (``opener.rs:171-173``);
this whole layer is an extension, so the format is ours to define.
"""

from __future__ import annotations

import json
import math
from typing import Dict, List, Optional

import numpy as np

from .meta import ZarrFormatError
from .store import Store

__all__ = [
    "STATS_BLOCK_ENTRIES",
    "STATS_SIDECAR_PREFIX",
    "RecordedStats",
    "StatsMerge",
    "block_key",
    "check_complete",
    "delete_sidecar",
    "first_rebuilt_block",
    "is_sidecar_marker",
    "iter_stats_blocks",
    "load_block",
    "merge_entries",
    "store_merged",
    "reads_other_blocks",
    "resolve_stats",
    "sidecar_marker",
    "store_stats",
    "sweep_blocks",
    "union_bounds",
]

STATS_SIDECAR_PREFIX = "__stats__"

#: entries per sidecar block — 64Ki pairs is ~1-3 MB of JSON, one GET
#: per block during a pruning pass; a billion-object array is ~16k
#: blocks fetched ONLY when a predicate references the column
STATS_BLOCK_ENTRIES = 65536


def block_key(array_name: str, block: int) -> str:
    """Store key of one sidecar block (also the layout contract the
    write-side patch tasks and delta-update paths address)."""
    return f"{STATS_SIDECAR_PREFIX}/{array_name}/{block}.json"


_block_key = block_key


def is_sidecar_marker(value) -> bool:
    """True for the attribute form that points at sidecar blocks."""
    return (
        isinstance(value, dict)
        and isinstance(value.get("sidecar"), int)
        and value["sidecar"] > 0
        and isinstance(value.get("n_entries"), int)
        and isinstance(value.get("block_entries"), int)
        and value["block_entries"] > 0
    )


def load_block(store: Store, array_name: str, block: int) -> Optional[List]:
    """One decoded sidecar block, or None when it is missing, not JSON,
    or not a list — the one block reader behind every stats consumer
    (callers treat None as "stats unknown")."""
    raw = store.get(_block_key(array_name, block))
    if raw is None:
        return None
    try:
        part = json.loads(raw)
    except ValueError:
        return None
    return part if isinstance(part, list) else None


def delete_sidecar(store: Store, array_name: str) -> None:
    """Drop every sidecar block for ``array_name`` (invalidation and
    inline-migration both route here; missing keys are a no-op)."""
    for key in list(
        store.walk_prefix(f"{STATS_SIDECAR_PREFIX}/{array_name}")
    ):
        store.delete(key)


def sweep_blocks(store: Store, array_name: str, n_blocks: int) -> None:
    """Delete ``array_name``'s sidecar blocks numbered ``n_blocks`` and
    up — the one debris policy after any statistics rewrite. It walks
    the array's actual sidecar prefix (a store-listing term, never an
    entry list), so blocks a torn earlier write left behind without a
    marker go too; keys that are not blocks are left alone."""
    prefix = f"{STATS_SIDECAR_PREFIX}/{array_name}/"
    for key in list(store.walk_prefix(prefix)):
        tail = key[len(prefix):]
        if (
            tail.endswith(".json")
            and tail[: -len(".json")].isdigit()
            and int(tail[: -len(".json")]) >= n_blocks
        ):
            store.delete(key)


def union_bounds(entry, other):
    """Union two encoded [lo, hi] pairs; unknown poisons."""
    if not entry or not other or None in entry or None in other:
        return None
    return [min(entry[0], other[0]), max(entry[1], other[1])]


class StatsMerge:
    """The ordinal geometry of one write's statistics merge.

    Slots are the C-order ordinals of ``grid``, the array's store-object
    grid after the write. ``old_grid`` is the grid the recorded entries
    describe (None: no old region — fresh creates, new arrays,
    recomputes); it equals ``grid`` except along ``axis``, where a grid
    append may have grown it, which moves every old ordinal behind that
    axis. ``boundary`` is the axis index of the partially filled old
    cell whose unwritten slots union their old entry with the fill the
    extension materializes (None: no such cell)."""

    def __init__(self, grid, old_grid=None, axis: int = 0, boundary=None):
        grid = [int(g) for g in grid]
        if old_grid is not None:
            old_grid = [int(g) for g in old_grid]
            if len(old_grid) != len(grid) or any(
                o != g
                for i, (o, g) in enumerate(zip(old_grid, grid))
                if i != axis
            ) or old_grid[axis] > grid[axis]:
                raise ZarrFormatError(
                    f"old grid {old_grid} does not grow into {grid} "
                    f"along axis {axis}"
                )
        self.n_entries = math.prod(grid)
        self.n_old = math.prod(old_grid) if old_grid is not None else 0
        self.inner = max(1, math.prod(grid[axis + 1:]))
        self.g_new = max(1, grid[axis])
        self.g_old = old_grid[axis] if self.n_old else 0
        self.boundary = boundary
        #: True when some old entry lands on another ordinal
        self.moves = (
            self.n_old > 0
            and self.g_old != self.g_new
            and math.prod(grid[:axis]) > 1
        )

    def old_ordinals(self, lo: int, hi: int):
        """For new ordinals [lo, hi): each slot's old ordinal (-1 in the
        new region) and its index along the axis. The map preserves
        order and never raises an ordinal, so a run of new slots reads
        one contiguous run of old ones."""
        o = np.arange(lo, hi, dtype=np.int64)
        rest = o // self.inner
        digit = rest % self.g_new
        old = (
            (rest // self.g_new * self.g_old + digit) * self.inner
            + o % self.inner
        )
        return np.where(digit < self.g_old, old, -1), digit

    def first_changed(self) -> int:
        """The lowest ordinal whose entry may differ from the recorded
        one without a written pair: the first new-region or boundary
        slot. Every ordinal from there on is new, moved or boundary;
        every one below it keeps its old entry in place."""
        firsts = [self.n_entries]
        if self.g_old < self.g_new:
            firsts.append(self.g_old * self.inner)
        if self.boundary is not None:
            firsts.append(int(self.boundary) * self.inner)
        return min(firsts)


class RecordedStats:
    """An array's recorded entries, read by old ordinal: an inline list,
    or a sidecar loaded one block at a time (O(one block) memory). An
    entry is None where nothing usable is recorded — no statistics, a
    list or marker whose length is not ``n`` (provably stale: never
    trust a prefix), or a missing, torn or wrong-length block."""

    def __init__(self, store: Store, array_name: str, value, n: int):
        self.store = store
        self.name = array_name
        self.n = int(n)
        usable = (isinstance(value, list) and len(value) == self.n) or (
            is_sidecar_marker(value) and value["n_entries"] == self.n
        )
        self.value = value if usable else None
        #: block size of a usable sidecar, else None
        self.block_entries = (
            int(value["block_entries"]) if usable and isinstance(value, dict)
            else None
        )
        self._block = (None, None)

    def __getitem__(self, o: int):
        if self.block_entries is None:
            return self.value[o] if self.value is not None else None
        blk = self.block_entries
        b, i = divmod(int(o), blk)
        if self._block[0] != b:
            part = load_block(self.store, self.name, b)
            if part is not None and len(part) != min(blk, self.n - b * blk):
                part = None
            self._block = (b, part)
        part = self._block[1]
        return part[i] if part is not None else None


def merge_entries(
    merge: StatsMerge, lo: int, hi: int, written: Dict, old, fill=None
) -> List:
    """The statistics merge rule of every write verb, for new ordinals
    [lo, hi):

    - a written slot takes its committed pair (``written``: ordinal →
      pair, or None to invalidate);
    - any other old-region slot keeps its old entry (``old[old_ordinal]``,
      e.g. a :class:`RecordedStats`; ``old`` None: all unknown), unioned
      with ``fill`` on the boundary cell;
    - an unwritten new-region slot gets ``fill`` (the grid verbs' fill
      pair — a cell without a chunk object reads as pure fill) or None.

    Pure given ``old``: the result does not depend on how the ordinals
    are split into calls."""
    if lo >= hi:
        return []
    old_ords, digits = merge.old_ordinals(lo, hi)
    out = []
    for o, oo, d in zip(range(lo, hi), old_ords.tolist(), digits.tolist()):
        if o in written:
            out.append(written[o])
        elif oo < 0:
            out.append(fill)
        else:
            e = old[oo] if old is not None else None
            out.append(union_bounds(e, fill) if d == merge.boundary else e)
    return out


def first_rebuilt_block(merge: StatsMerge, old: RecordedStats, blk: int) -> int:
    """Blocks below this one change only where a written slot lands: an
    old sidecar of the same block size stays in place up to the first
    changed ordinal. Anything else (inline, absent or stale old stats,
    another block size) rebuilds every block."""
    if old.block_entries == blk:
        return merge.first_changed() // blk
    return 0


def reads_other_blocks(merge: StatsMerge, old: RecordedStats, blk: int) -> bool:
    """True when rebuilding a block reads old entries stored under OTHER
    block keys — ordinals move, or the old sidecar used another block
    size. Every such old entry must then be read before the first block
    is rewritten."""
    return old.block_entries is not None and (
        merge.moves or old.block_entries != blk
    )


def sidecar_marker(n_blocks: int, n_entries: int, blk: int) -> Dict:
    return {
        "sidecar": int(n_blocks),
        "n_entries": int(n_entries),
        "block_entries": int(blk),
    }


def check_complete(entries: List, array_name: str) -> None:
    """Raise when a recompute left a slot without a value."""
    missing = sum(e is None for e in entries)
    if missing:
        raise ZarrFormatError(
            f"statistics for {array_name!r} incomplete: {missing} "
            "slots never computed"
        )


def store_merged(
    store: Store,
    array_name: str,
    merge: StatsMerge,
    written: Dict,
    old: RecordedStats,
    fill,
    max_inline: int,
    complete: bool = False,
):
    """Driver placement of :func:`merge_entries`: returns the attribute
    value for the merged entries — the list itself at or under
    ``max_inline``, else the marker of sidecar blocks written here, of
    which only blocks with a changed slot are rewritten. ``complete``
    demands that every slot got a value (a recompute)."""
    n = merge.n_entries
    if n <= max_inline:
        entries = merge_entries(merge, 0, n, written, old, fill)
        if complete:
            check_complete(entries, array_name)
        sweep_blocks(store, array_name, 0)
        return entries
    blk = STATS_BLOCK_ENTRIES
    n_blocks = -(-n // blk)
    blocks = set(range(first_rebuilt_block(merge, old, blk), n_blocks))
    blocks.update(o // blk for o in written)
    if reads_other_blocks(merge, old, blk):
        # O(n_old) here: only when the block size changed between
        # writes (grid appends past the cap merge in tasks)
        old = [old[o] for o in range(old.n)]
    for b in sorted(blocks):
        entries = merge_entries(
            merge, b * blk, min(n, (b + 1) * blk), written, old, fill
        )
        if complete:
            check_complete(entries, array_name)
        store.set(_block_key(array_name, b), json.dumps(entries).encode())
    sweep_blocks(store, array_name, n_blocks)
    return sidecar_marker(n_blocks, n, blk)


def store_stats(
    store: Store,
    array_name: str,
    entries: Optional[List],
    max_inline: int,
):
    """Return the attribute value for a complete ``entries`` list:
    None (the blocks are deleted; the caller pops the attribute), the
    list itself at or under ``max_inline``, else the marker of
    ``ceil(n / STATS_BLOCK_ENTRIES)`` freshly written blocks — a
    :func:`store_merged` with no old region, so an array shrinking back
    under the cap leaves no debris and a rewritten sidecar never mixes
    old and new blocks."""
    if entries is None:
        delete_sidecar(store, array_name)
        return None
    n = len(entries)
    return store_merged(
        store, array_name, StatsMerge((n,)), dict(enumerate(entries)),
        RecordedStats(store, array_name, None, 0), None, max_inline,
    )


def iter_stats_blocks(store: Store, array_name: str, marker):
    """Yield one decoded block list at a time for a sidecar marker —
    the O(one-block) memory walk for callers that scan bounds without
    needing the reassembled list (upsert's key prune on a
    billion-object store must not materialize 16k blocks of JSON on
    the driver; r8 review finding). Yields None once and stops on any
    torn/malformed block — callers must treat that as
    "stats unknown", same soundness bar as :func:`resolve_stats`."""
    if not is_sidecar_marker(marker):
        yield None
        return
    for b in range(marker["sidecar"]):
        part = load_block(store, array_name, b)
        yield part
        if part is None:
            return


def resolve_stats(store: Store, array_name: str, value) -> Optional[List]:
    """The full entries list from an attribute value: an inline list
    passes through; a sidecar marker loads and reassembles its blocks
    (the lazy read — callers only invoke this during a pruning pass).
    Anything else, or any inconsistency, is None (= no stats).

    Block fetches run through a small threadpool when there are
    several: on a remote store a big sidecar is thousands of GETs,
    and paying them serially would put minutes of latency into
    PLANNING (the I/O releases the GIL; order is preserved by
    ``Executor.map``)."""
    if isinstance(value, list):
        return value
    if not is_sidecar_marker(value):
        return None
    n_blocks = value["sidecar"]
    n_entries = value["n_entries"]

    def fetch(b: int):
        return load_block(store, array_name, b)

    if n_blocks > 4:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=8) as pool:
            parts = list(pool.map(fetch, range(n_blocks)))
    else:
        parts = [fetch(b) for b in range(n_blocks)]

    out: List = []
    for part in parts:
        if part is None:
            return None  # torn sidecar: unknown, never wrong
        out.extend(part)
    if len(out) != n_entries:
        return None  # stale marker vs blocks: refuse the prefix
    return out


