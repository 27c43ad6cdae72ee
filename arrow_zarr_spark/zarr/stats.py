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

The reference records no statistics at all (``opener.rs:171-173``);
this whole layer is an extension, so the format is ours to define.
"""

from __future__ import annotations

import json
from typing import List, Optional

from .store import Store

__all__ = [
    "STATS_BLOCK_ENTRIES",
    "STATS_SIDECAR_PREFIX",
    "block_key",
    "delete_sidecar",
    "is_sidecar_marker",
    "iter_stats_blocks",
    "load_block",
    "resolve_stats",
    "store_stats",
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


def store_stats(
    store: Store,
    array_name: str,
    entries: Optional[List],
    max_inline: int,
):
    """Return the attribute value for ``entries``, writing sidecar
    blocks when the list exceeds ``max_inline``.

    - ``entries is None`` → returns None (caller pops the attribute);
    - ``len(entries) <= max_inline`` → returns the list itself
      (inline, the pre-round-8 format, still what every small store
      uses);
    - otherwise → writes ``ceil(n / STATS_BLOCK_ENTRIES)`` blocks and
      returns the marker dict.

    Always clears any previous sidecar first, so an array shrinking
    back under the cap (rechunk to bigger objects) leaves no debris
    and a re-written sidecar never mixes old and new blocks.
    """
    delete_sidecar(store, array_name)
    if entries is None:
        return None
    if len(entries) <= max_inline:
        return entries
    n = len(entries)
    n_blocks = -(-n // STATS_BLOCK_ENTRIES)
    for b in range(n_blocks):
        chunk = entries[
            b * STATS_BLOCK_ENTRIES : (b + 1) * STATS_BLOCK_ENTRIES
        ]
        store.set(
            _block_key(array_name, b),
            json.dumps(chunk).encode(),
        )
    return {
        "sidecar": n_blocks,
        "n_entries": n,
        "block_entries": STATS_BLOCK_ENTRIES,
    }


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


