"""Chunk-grid planning and coordinate broadcast (the reference's one
custom query semantic).

Re-implements, Spark-side-of-the-scan, the rules of
``/root/reference/crates/arrow-zarr/src/zarr_store_opener/zarr_data_stream.rs``:

- rows of a chunk are the row-major (C-order) flattening of the N-D
  chunk (``zarr_data_stream.rs:239-242``; golden test 1076-1092)
- only 1/2/3-D arrays (``zarr_data_stream.rs:784-804``)
- a 1-D array named after its own single dimension is a *coordinate*;
  coordinates broadcast to the chunk shape of the data arrays
  (``ZarrCoordinates``, ``zarr_data_stream.rs:100-282``)
- when every selected column is a coordinate, the result is the
  Cartesian product in schema field order (``zarr_data_stream.rs:146-165``)
- mixed-dimensionality stores need consistent dimension names across
  non-coordinate arrays, and every 1-D array must then be a coordinate
  (``zarr_data_stream.rs:167-214``)
- per-dimension shapes/chunk shapes are cross-validated, coordinates
  reducing to their single relevant dimension (``resolve_vector``,
  ``zarr_data_stream.rs:48-96``)
"""

from __future__ import annotations

import itertools
import threading
from collections import OrderedDict
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from .array import ZarrArray
from .meta import ZarrFormatError

__all__ = ["ChunkPlan", "ordinal_to_cell"]


def ordinal_to_cell(ordinal: int, grid: Sequence[int]) -> Tuple[int, ...]:
    """Mixed-radix decode of a C-order cell ordinal on ``grid``."""
    out = []
    rem = int(ordinal)
    for g in reversed(grid):
        out.append(rem % g)
        rem //= g
    return tuple(reversed(out))


class _CoordEntry:
    """In-flight-deduplicated cache slot: the first thread fetches, the
    rest wait on the event — two prefetch threads touching the same
    coordinate chunk must not both GET it."""

    __slots__ = ("ready", "value", "error")

    def __init__(self):
        self.ready = threading.Event()
        self.value = None
        self.error = None


#: Worker-process-wide coordinate-chunk cache. Keyed by a per-scan
#: token, so a later query can NEVER see a stale chunk (its reader
#: carries a fresh token); bounded, so long-lived workers stay bounded.
_COORD_CACHE: "OrderedDict[tuple, _CoordEntry]" = OrderedDict()
_COORD_CACHE_CAP = 256
_COORD_LOCK = threading.Lock()


class ChunkPlan:
    """Maps a selection of arrays onto a single chunk grid and evaluates
    grid cells into flattened column vectors."""

    def __init__(self, arrays: Sequence[ZarrArray]):
        if not arrays:
            raise ZarrFormatError("Empty selection")
        self.arrays: List[ZarrArray] = list(arrays)
        self.by_name: Dict[str, ZarrArray] = {a.meta.name: a for a in arrays}
        #: v2 coords whose chunking differs from the data grid (read by
        #: range, not by aligned chunk index)
        self._ranged_coords: set = set()

        for a in self.arrays:
            if a.meta.ndim not in (1, 2, 3):
                raise ZarrFormatError("Only 1, 2 or 3D arrays supported")

        coords = [a for a in self.arrays if a.meta.is_coordinate()]
        data = [a for a in self.arrays if not a.meta.is_coordinate()]

        self.coord_axis: Dict[str, int] = {}
        if not data:
            # All-coordinates selection: Cartesian product in schema
            # field order (zarr_data_stream.rs:146-165).
            self.kind = "all_coords"
            self.grid_shape = tuple(
                a.meta.chunk_grid_shape[0] for a in self.arrays
            )
            for axis, a in enumerate(self.arrays):
                self.coord_axis[a.meta.name] = axis
            self._rep = None
        else:
            self.kind = "data"
            rep = data[0]
            rep_dims = rep.meta.dimension_names
            for a in data[1:]:
                if tuple(a.meta.shape) != tuple(rep.meta.shape) or tuple(
                    a.meta.chunk_shape
                ) != tuple(rep.meta.chunk_shape):
                    raise ZarrFormatError(
                        f"Arrays {rep.meta.name} and {a.meta.name} have "
                        "incompatible shapes or chunk shapes"
                    )
                if rep.meta.ndim > 1 or a.meta.ndim > 1:
                    if a.meta.dimension_names != rep_dims:
                        raise ZarrFormatError(
                            "Inconsistent dimension names across arrays"
                        )
            for a in data:
                if a.meta.ndim == 1 and (data[0].meta.ndim > 1):
                    raise ZarrFormatError(
                        "1D arrays in a multi-dimensional store must be "
                        "coordinates"
                    )
            for c in coords:
                if rep_dims is None:
                    raise ZarrFormatError(
                        f"Coordinate {c.meta.name} cannot be matched: data "
                        "arrays have no dimension names"
                    )
                if c.meta.name not in rep_dims:
                    raise ZarrFormatError(
                        f"Coordinate {c.meta.name} does not match any "
                        "dimension of the data arrays"
                    )
                axis = rep_dims.index(c.meta.name)
                # cross-validate the coordinate against its dimension
                # (resolve_vector, zarr_data_stream.rs:48-96)
                if c.meta.shape[0] != rep.meta.shape[axis]:
                    raise ZarrFormatError(
                        f"Coordinate {c.meta.name} shape/chunks do not "
                        f"match dimension {axis} of the data arrays"
                    )
                if c.meta.chunk_shape[0] != rep.meta.chunk_shape[axis]:
                    # v3 keeps the reference's strict contract; v2 is
                    # already beyond the reference, and real xarray v2
                    # stores usually write coords as ONE chunk — read
                    # those by range instead of by aligned chunk index
                    if c.meta.key_encoding != "v2":
                        raise ZarrFormatError(
                            f"Coordinate {c.meta.name} shape/chunks do "
                            f"not match dimension {axis} of the data "
                            "arrays"
                        )
                    self._ranged_coords.add(c.meta.name)
                self.coord_axis[c.meta.name] = axis
            self.grid_shape = rep.meta.chunk_grid_shape
            self._rep = rep

    # -- grid enumeration ------------------------------------------------

    @property
    def n_cells(self) -> int:
        n = 1
        for g in self.grid_shape:
            n *= g
        return n

    def cells(self) -> List[Tuple[int, ...]]:
        """All grid cells in row-major order — the reference's fixed global
        chunk order (``zarr_data_stream.rs:782-817``)."""
        return list(itertools.product(*(range(g) for g in self.grid_shape)))

    def cell_ordinal(self, cell: Tuple[int, ...]) -> int:
        """C-order (row-major) flat index of a grid cell — THE cell
        numbering convention shared by :meth:`cells`' enumeration
        order, the grid writer's ``__cell`` Horner encoding
        (io.py::write_zarr_grid), and the per-cell statistics lists
        (``STATS_ATTR_KEY``). One definition here so the three can't
        drift."""
        ordinal = 0
        for i, g in zip(cell, self.grid_shape):
            ordinal = ordinal * g + i
        return ordinal

    def cell_of_ordinal(self, ordinal: int) -> Tuple[int, ...]:
        """Inverse of :meth:`cell_ordinal` — scan partitions
        (datasource.py) carry contiguous ordinal spans, and tasks
        enumerate cells from them, so planning a huge grid never
        materializes the cell list."""
        return ordinal_to_cell(ordinal, self.grid_shape)

    # -- evaluation ------------------------------------------------------

    def _cell_shape(self, cell: Tuple[int, ...]) -> Tuple[int, ...]:
        if self.kind == "all_coords":
            return tuple(
                a.meta.valid_chunk_shape((i,))[0]
                for a, i in zip(self.arrays, cell)
            )
        return self._rep.meta.valid_chunk_shape(cell)

    def cell_num_rows(self, cell: Tuple[int, ...]) -> int:
        n = 1
        for s in self._cell_shape(cell):
            n *= s
        return n

    def evaluate(
        self,
        cell: Tuple[int, ...],
        columns: Optional[Sequence[str]] = None,
        sel_mask: Optional[np.ndarray] = None,
    ) -> Dict[str, np.ndarray]:
        """Read + broadcast + C-order-flatten the given columns of one grid
        cell. ``columns=None`` evaluates the full selection. Each output
        vector has ``cell_num_rows(cell)`` elements, aligned across
        columns (so filter-column evaluation composes with data columns —
        the reference's filter-column reuse, ``zarr_data_stream.rs:943-963``).

        ``sel_mask`` is a flat boolean vector over the cell's rows (the
        filter phase's surviving-row mask): data arrays pass it to
        :meth:`ZarrArray.read_chunk`, where sharded layouts skip inner
        chunks containing no True row. Rows it masks out may surface as
        fill values — callers must discard them downstream (the scan's
        Inexact contract guarantees this).
        """
        names = list(columns) if columns is not None else [
            a.meta.name for a in self.arrays
        ]
        shape = self._cell_shape(cell)
        mask_nd = (
            sel_mask.reshape(shape)
            if sel_mask is not None and self.kind == "data"
            else None
        )
        out: Dict[str, np.ndarray] = {}
        for name in names:
            arr = self.by_name[name]
            if name in self.coord_axis:
                axis = self.coord_axis[name]
                if name in self._ranged_coords:
                    c = self._rep.meta.chunk_shape[axis]
                    start = cell[axis] * c
                    stop = start + shape[axis]
                    vec = self._coord_cached(
                        (name, "r", start, stop),
                        lambda a=arr, s=start, e=stop: a.read_range(s, e),
                    )
                else:
                    vec = self._coord_chunk(name, arr, cell[axis])
                reshape = [1] * len(shape)
                reshape[axis] = vec.shape[0]
                block = np.broadcast_to(vec.reshape(reshape), shape)
            else:
                block = arr.read_chunk(cell, sel_mask=mask_nd)
            out[name] = np.ascontiguousarray(block).ravel()
        return out

    def _coord_chunk(self, name: str, arr: ZarrArray, idx: int) -> np.ndarray:
        return self._coord_cached(
            (name, idx), lambda: arr.read_chunk((idx,))
        )

    def _coord_cached(self, subkey: tuple, compute) -> np.ndarray:
        """Coordinate chunks are shared by every grid cell along their
        axis — without reuse a scan fetches and decodes the same 1-D
        data once per cell (it counts double on remote stores: one GET
        per re-read). The cache is worker-process-wide but keyed by the
        scan's token (set by the reader, shipped to every task), so
        partitions of one scan share fetches while a later scan can
        never see a stale chunk. Plans used outside a scan (no token)
        fall back to a per-instance cache."""
        token = getattr(self, "scan_token", None)
        if token is None:
            cache = getattr(self, "_coord_cache", None)
            if cache is None:
                cache = self._coord_cache = {}
            if subkey not in cache:
                if len(cache) >= 64:
                    cache.pop(next(iter(cache)))
                cache[subkey] = compute()
            return cache[subkey]

        key = (token,) + subkey
        with _COORD_LOCK:
            ent = _COORD_CACHE.get(key)
            owner = ent is None
            if owner:
                ent = _CoordEntry()
                _COORD_CACHE[key] = ent
                while len(_COORD_CACHE) > _COORD_CACHE_CAP:
                    _COORD_CACHE.popitem(last=False)
            else:
                _COORD_CACHE.move_to_end(key)
        if owner:
            try:
                ent.value = compute()
            except BaseException as e:  # propagate to waiters too
                ent.error = e
                with _COORD_LOCK:
                    _COORD_CACHE.pop(key, None)
                raise
            finally:
                ent.ready.set()
            return ent.value
        ent.ready.wait()
        if ent.error is not None:
            raise ent.error
        return ent.value
