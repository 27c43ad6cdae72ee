"""Pure-Python Zarr v3 format layer (no zarr-python dependency).

Submodules: :mod:`meta` (zarr.json + type map), :mod:`codecs`,
:mod:`store`, :mod:`array` (chunk reads), :mod:`table` (chunk-grid
planning + coordinate broadcast), :mod:`writer`, :mod:`versions`.

The names below are re-exported lazily (PEP 562): importing this
package loads no submodule, and each name loads its own on first use.
Spark workers import the package from a zip of source files, so an
eager re-export would compile :mod:`versions` in every fresh worker
that only scans.
"""

import importlib

_EXPORTS = {
    "array": (
        "ZarrArray",
        "infer_store_arrays",
        "infer_store_arrays_authoritative",
        "load_consolidated_arrays",
        "open_array",
    ),
    "meta": ("ArrayMeta", "ZarrFormatError", "parse_array_meta"),
    "store": ("LocalStore", "Store", "open_store"),
    "table": ("ChunkPlan",),
    "versions": (
        "VersionConflictError",
        "VersionStoreView",
        "chunk_stat_view",
        "commit_version",
        "delete_tag",
        "export_version",
        "latest_version",
        "list_tags",
        "open_version",
        "refresh_chunk_stat_view",
        "repair_zarr",
        "resolve_as_of",
        "resolve_tag",
        "rollback_zarr",
        "scrub_zarr",
        "sync_zarr",
        "tag_version",
        "vacuum_versions",
        "version_log",
    ),
    "writer": (
        "consolidate_metadata",
        "create_array",
        "write_array_data",
        "write_chunk",
        "write_root_group",
        "write_store",
    ),
}
_SOURCE = {name: module for module, names in _EXPORTS.items() for name in names}

__all__ = sorted(_SOURCE)


def __getattr__(name):
    module = _SOURCE.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(f".{module}", __name__), name)
    globals()[name] = value
    return value


def __dir__():
    return sorted(set(globals()) | set(_SOURCE))
