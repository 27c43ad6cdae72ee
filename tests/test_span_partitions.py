"""Task-side static pruning (datasource.py) — past
PLAN_DRIVER_CELLS_MAX (or the plan_cells_max option) the planner never
materializes the cell list: partitions carry contiguous cell-ordinal
SPANS (O(n_partitions) driver memory however large the grid) and the
static-pruning test the driver runs on smaller grids runs in each
task instead, against worker-cached bounds. These tests force that
placement with a cap of 0 and pin task-pruned == driver-pruned on
rows, pruning decisions, and split semantics."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, LessThan

from arrow_zarr_spark.datasource import ZarrDataSource
from arrow_zarr_spark.io import write_zarr
from arrow_zarr_spark.zarr import ChunkPlan, open_store, write_store
from arrow_zarr_spark.zarr.array import infer_store_arrays


def _reader(path, filters=(), **options):
    ds = ZarrDataSource({"path": path, **options})
    reader = ds.reader(ds.schema())
    list(reader.pushFilters(list(filters)))
    return reader


def _task_pruned_cells(reader):
    """Every cell a task-pruned plan would actually read, across all
    its partitions (task-side pruning included)."""
    out = []
    for p in reader.partitions():
        assert p.prune and p.cells is None
        out.extend(reader._partition_cells(p))
    return out


def _driver_pruned_cells(reader):
    out = []
    for p in reader.partitions():
        assert not p.prune
        out.extend(p.cells)
    return out


class TestCellOfOrdinal:
    def test_roundtrip_matches_enumeration(self, spark, tmp_path):
        import numpy as np

        path = str(tmp_path / "ord")
        write_store(
            path,
            arrays={"d": np.arange(210.0).reshape(5, 6, 7)},
            chunk_shapes={"d": (2, 3, 2)},
            dimension_names={"d": ("a", "b", "c")},
        )
        plan = ChunkPlan(infer_store_arrays(open_store(path)))
        cells = plan.cells()
        for i, cell in enumerate(cells):
            assert plan.cell_of_ordinal(i) == cell
            assert plan.cell_ordinal(cell) == i


class TestSpanPruningMatchesPlanning:
    """The task-side static prune must keep EXACTLY the cells the
    driver-side prune keeps — same bound sources, same validation,
    same conservatism."""

    def test_inline_stats(self, spark, tmp_path):
        path = str(tmp_path / "sp1")
        df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)
        for filters in (
            [],
            [LessThan(("k",), 250)],
            [GreaterThan(("k",), 149), LessThan(("k",), 350)],
            [EqualTo(("k",), 555)],
        ):
            want = _driver_pruned_cells(_reader(path, filters))
            got = _task_pruned_cells(
                _reader(path, filters, plan_cells_max="0")
            )
            assert got == want, filters

    def test_sidecar_stats(self, spark, tmp_path, monkeypatch):
        import arrow_zarr_spark.io as io_mod
        from arrow_zarr_spark.zarr.stats import is_sidecar_marker

        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
        path = str(tmp_path / "sp2")
        df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)  # 10 objects -> sidecar
        meta = infer_store_arrays(open_store(path))[0].meta
        assert is_sidecar_marker(meta.attributes["arrow_zarr_spark:chunk_stats"])
        for filters in ([LessThan(("k",), 250)], [EqualTo(("k",), 999)]):
            want = _driver_pruned_cells(_reader(path, filters))
            got = _task_pruned_cells(
                _reader(path, filters, plan_cells_max="0")
            )
            assert got == want and 0 < len(got) < 10, filters

    def test_torn_sidecar_never_prunes_rows(
        self, spark, tmp_path, monkeypatch
    ):
        """A missing sidecar block must never prune a cell with rows:
        the driver pass drops the whole column, a task only the torn
        block's cells."""
        import arrow_zarr_spark.io as io_mod
        import arrow_zarr_spark.zarr.stats as stats_mod

        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
        monkeypatch.setattr(stats_mod, "STATS_BLOCK_ENTRIES", 4)
        path = str(tmp_path / "sp_torn")
        df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)  # 10 objects, 3 blocks
        open_store(path).delete(stats_mod.block_key("k", 0))
        filters = [LessThan(("k",), 250)]  # rows in cells 0-2 only
        assert _driver_pruned_cells(_reader(path, filters)) == [
            (i,) for i in range(10)
        ]
        assert _task_pruned_cells(
            _reader(path, filters, plan_cells_max="0")
        ) == [(i,) for i in range(4)]

    def test_coordinate_bounds_on_grid(self, spark, tmp_path):
        import numpy as np

        path = str(tmp_path / "sp3")
        write_store(
            path,
            arrays={
                "temp": np.arange(48.0).reshape(6, 8),
                "lat": np.linspace(10, 15, 6),
                "lon": np.linspace(100, 107, 8),
            },
            chunk_shapes={"temp": (2, 3), "lat": (2,), "lon": (3,)},
            dimension_names={
                "temp": ("lat", "lon"),
                "lat": ("lat",),
                "lon": ("lon",),
            },
        )
        filters = [LessThan(("lat",), 12.0), GreaterThan(("lon",), 104.5)]
        want = _driver_pruned_cells(_reader(path, filters))
        got = _task_pruned_cells(
            _reader(path, filters, plan_cells_max="0")
        )
        assert got == want and 0 < len(got) < 12

    def test_datetime_stats(self, spark, tmp_path):
        path = str(tmp_path / "sp4")
        df = spark.range(0, 400, 1, 2).select(
            F.col("id").alias("k"),
            (
                F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
                + F.make_interval(mins=F.col("id"))
            ).alias("ts"),
        )
        write_zarr(df, path, chunk_rows=100)
        import datetime

        cut = datetime.datetime(2024, 1, 1, 2, 0, 0)
        filters = [LessThan(("ts",), cut)]
        want = _driver_pruned_cells(_reader(path, filters))
        got = _task_pruned_cells(
            _reader(path, filters, plan_cells_max="0")
        )
        assert got == want and 0 < len(got) < 4

    def test_stale_stats_never_prune(self, spark, tmp_path):
        import json

        path = str(tmp_path / "sp5")
        df = spark.range(0, 600, 1, 2).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)
        store = open_store(path)
        # poison BOTH metadata locations (array doc + consolidated
        # root) with a length-mismatched list — stale stats must be
        # ignored by both tiers identically
        for key in ("k/zarr.json",):
            doc = json.loads(store.get(key))
            doc["attributes"]["arrow_zarr_spark:chunk_stats"] = [[0, 1]]
            store.set(key, json.dumps(doc).encode())
        root = json.loads(store.get("zarr.json"))
        root["consolidated_metadata"]["metadata"]["k"]["attributes"][
            "arrow_zarr_spark:chunk_stats"
        ] = [[0, 1]]
        store.set("zarr.json", json.dumps(root).encode())
        filters = [LessThan(("k",), 50)]
        want = _driver_pruned_cells(_reader(path, filters))
        got = _task_pruned_cells(
            _reader(path, filters, plan_cells_max="0")
        )
        assert got == want == [(i,) for i in range(6)]  # kept: stale


class TestSpanSplitSemantics:
    def test_auto_spans_cover_grid_once(self, spark, tmp_path):
        path = str(tmp_path / "ss1")
        df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=10)  # 100 cells
        reader = _reader(path, plan_cells_max="0")
        parts = reader.partitions()
        covered = []
        for p in parts:
            for s, e in p.spans:
                covered.extend(range(s, e))
        assert covered == list(range(100))

    def test_num_partitions_ceil_split_with_empty_tails(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "ss2")
        df = spark.range(0, 100, 1, 2).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=10)  # 10 cells
        reader = _reader(path, plan_cells_max="0", num_partitions="4")
        parts = reader.partitions()
        assert len(parts) == 4
        sizes = [sum(e - s for s, e in p.spans) for p in parts]
        assert sizes == [3, 3, 3, 1]  # ceil(10/4)=3, short tail
        reader = _reader(path, plan_cells_max="0", num_partitions="20")
        parts = reader.partitions()
        assert len(parts) == 20
        sizes = [sum(e - s for s, e in p.spans) for p in parts]
        assert sizes == [1] * 10 + [0] * 10  # reference empty tails

    def test_partition_count_cap(self, spark, tmp_path, monkeypatch):
        import arrow_zarr_spark.datasource as ds_mod

        path = str(tmp_path / "ss3")
        df = spark.range(0, 1000, 1, 2).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=10)  # 100 cells
        monkeypatch.setattr(ds_mod, "SPAN_PARTITIONS_MAX", 7)
        reader = _reader(path, plan_cells_max="0")
        parts = reader.partitions()
        assert len(parts) <= 7
        covered = [o for p in parts for s, e in p.spans for o in range(s, e)]
        assert covered == list(range(100))


class TestSpanEndToEnd:
    """Through the real spark.read path: the plan_cells_max option
    reaches the planning worker, so task-side pruning drives the
    whole scan — rows must equal the driver-pruned scan's, filtered
    and not."""

    def test_table_scan_rows_match(self, spark, tmp_path):
        path = str(tmp_path / "se1")
        df = spark.range(0, 2000, 1, 4).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
        write_zarr(df, path, chunk_rows=128)
        want = sorted(
            tuple(r)
            for r in spark.read.format("zarr").load(path).collect()
        )
        got = sorted(
            tuple(r)
            for r in spark.read.format("zarr")
            .option("plan_cells_max", "0")
            .load(path)
            .collect()
        )
        assert got == want and len(got) == 2000

    def test_filtered_scan_rows_match(self, spark, tmp_path):
        path = str(tmp_path / "se2")
        df = spark.range(0, 2000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=128)
        got = (
            spark.read.format("zarr")
            .option("plan_cells_max", "0")
            .load(path)
            .filter("k >= 1900")
            .collect()
        )
        assert sorted(r.k for r in got) == list(range(1900, 2000))

    def test_grid_coordinate_filter_rows_match(self, spark, tmp_path):
        import numpy as np

        path = str(tmp_path / "se3")
        write_store(
            path,
            arrays={
                "temp": np.arange(48.0).reshape(6, 8),
                "lat": np.linspace(10, 15, 6),
                "lon": np.linspace(100, 107, 8),
            },
            chunk_shapes={"temp": (2, 3), "lat": (2,), "lon": (3,)},
            dimension_names={
                "temp": ("lat", "lon"),
                "lat": ("lat",),
                "lon": ("lon",),
            },
        )
        q = lambda extra: sorted(
            tuple(r)
            for r in extra(
                spark.read.format("zarr")
                .option("plan_cells_max", "0")
                .load(path)
            ).collect()
        )
        want = sorted(
            tuple(r)
            for r in spark.read.format("zarr")
            .load(path)
            .filter("lat < 12 AND lon > 104.5")
            .collect()
        )
        assert q(lambda d: d.filter("lat < 12 AND lon > 104.5")) == want
        assert len(want) == 6

    def test_sharded_store(self, spark, tmp_path):
        path = str(tmp_path / "se4")
        df = spark.range(0, 1000, 1, 2).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=50, shard_chunks=5)
        got = (
            spark.read.format("zarr")
            .option("plan_cells_max", "0")
            .load(path)
            .filter("k < 100")
            .collect()
        )
        assert sorted(r.k for r in got) == list(range(100))

    def test_v2_store(self, spark, tmp_path):
        path = str(tmp_path / "se5")
        df = spark.range(0, 500, 1, 2).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100, zarr_format=2)
        got = (
            spark.read.format("zarr")
            .option("plan_cells_max", "0")
            .load(path)
            .collect()
        )
        assert sorted(r.k for r in got) == list(range(500))

    def test_num_partitions_end_to_end(self, spark, tmp_path):
        path = str(tmp_path / "se6")
        df = spark.range(0, 600, 1, 2).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)
        got = (
            spark.read.format("zarr")
            .option("plan_cells_max", "0")
            .option("num_partitions", "4")
            .load(path)
        )
        assert got.rdd.getNumPartitions() == 4
        assert sorted(r.k for r in got.collect()) == list(range(600))


class TestDefaultCutoverEngages:
    def test_past_cap_grid_plans_as_spans_by_default(
        self, spark, tmp_path
    ):
        """No option, real constant: a store whose chunk grid exceeds
        PLAN_DRIVER_CELLS_MAX must plan via spans — the planner never
        builds the cell list. The store is METADATA-declared (shape
        grown after a tiny write; absent chunks are fill), because
        writing 5M chunk objects just to test planning would miss the
        point."""
        import json
        import time

        from arrow_zarr_spark.datasource import (
            PLAN_DRIVER_CELLS_MAX,
            SPAN_PARTITIONS_MAX,
        )

        path = str(tmp_path / "huge")
        df = spark.range(0, 4, 1, 1).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=1, stats=False)
        n_declared = PLAN_DRIVER_CELLS_MAX + 1_000_000
        store = open_store(path)
        doc = json.loads(store.get("k/zarr.json"))
        doc["shape"] = [n_declared]
        store.set("k/zarr.json", json.dumps(doc).encode())
        root = json.loads(store.get("zarr.json"))
        root["consolidated_metadata"]["metadata"]["k"]["shape"] = [
            n_declared
        ]
        store.set("zarr.json", json.dumps(root).encode())

        t0 = time.perf_counter()
        reader = _reader(path)  # no plan_cells_max option
        parts = reader.partitions()
        dt = time.perf_counter() - t0
        assert all(p.prune and p.cells is None for p in parts)
        assert len(parts) <= SPAN_PARTITIONS_MAX
        assert (
            sum(e - s for p in parts for s, e in p.spans) == n_declared
        )
        # planning a 5M-cell grid must stay metadata-priced: the
        # driver enumeration of 5M cell tuples took seconds and
        # hundreds of MB; spans are sub-second
        assert dt < 5.0
        # the first cells still read correctly through a span task
        first = parts[0]
        sub = [(0, 4)]
        rows = []
        for batch in reader.read(
            type(first)(sub, first.grid, prune=True)
        ):
            rows.extend(batch.column(0).to_pylist())
        assert rows == [0, 1, 2, 3]


class TestSpanCoordPrePrune:
    """r12: the span tier's driver-side coordinate PRE-prune
    (_span_coord_runs) — per-AXIS surviving index sets from the same
    _coord_bounds + interval_possible tests, composed into bounded
    ordinal runs. Legitimate under the no-O(n_cells) rule (bounds are
    per-axis); writer stats stay executor-side. Partitions shrink,
    results stay identical to the driver-pruned plan."""

    def _grid(self, tmp_path, name="pp"):
        import numpy as np

        path = str(tmp_path / name)
        write_store(
            path,
            arrays={
                "data": np.arange(1024.0).reshape(32, 32),
                "lat": np.arange(32, dtype=np.float64),
                "lon": np.arange(32, dtype=np.float64) * -1.0,
            },
            chunk_shapes={"data": (4, 4), "lat": (4,), "lon": (4,)},
            dimension_names={
                "data": ("lat", "lon"),
                "lat": ("lat",),
                "lon": ("lon",),
            },
        )
        return path

    def test_partitions_shrink_and_survivors_match(self, spark, tmp_path):
        path = self._grid(tmp_path)
        filters = [LessThan(("lat",), 4.0)]  # keeps lat chunk 0 only
        unfiltered = _reader(
            path, plan_cells_max="0", chunks_per_partition="4"
        )
        pruned = _reader(
            path, filters, plan_cells_max="0", chunks_per_partition="4"
        )
        driver = _reader(path, filters)
        n_unpruned = len(unfiltered.partitions())
        parts = pruned.partitions()
        # 8x8 grid, lat chunk 0 survives -> 8 cells in 2 partitions
        assert len(parts) == 2 < n_unpruned == 16
        assert sorted(_task_pruned_cells(pruned)) == sorted(
            _driver_pruned_cells(driver)
        )

    def test_two_axis_box_rows_match_end_to_end(self, spark, tmp_path):
        path = self._grid(tmp_path)
        pred = "lat < 4 AND lon <= -28"
        want = sorted(
            tuple(r)
            for r in spark.read.format("zarr")
            .load(path)
            .filter(pred)
            .collect()
        )
        got = sorted(
            tuple(r)
            for r in spark.read.format("zarr")
            .option("plan_cells_max", "0")
            .load(path)
            .filter(pred)
            .collect()
        )
        assert got == want and len(got) == 16

    def test_budget_fallback_identical(self, spark, tmp_path, monkeypatch):
        from arrow_zarr_spark.datasource import ZarrReader

        path = self._grid(tmp_path)
        filters = [LessThan(("lat",), 4.0)]
        monkeypatch.setattr(
            ZarrReader, "SPAN_PRUNE_RUNS_MAX", 0
        )
        fallback = _reader(
            path, filters, plan_cells_max="0", chunks_per_partition="4"
        )
        # over budget: full-range spans (the unpruned count)...
        assert len(fallback.partitions()) == 16
        # ...but the executor-side pass still prunes identically
        assert sorted(_task_pruned_cells(fallback)) == sorted(
            _driver_pruned_cells(_reader(path, filters))
        )

    def test_provably_empty_scan(self, spark, tmp_path):
        path = self._grid(tmp_path)
        filters = [GreaterThan(("lat",), 1e9)]
        pruned = _reader(path, filters, plan_cells_max="0")
        parts = pruned.partitions()
        assert len(parts) == 1 and parts[0].spans == []
        assert _task_pruned_cells(pruned) == []

    def test_stats_never_preprune(self, spark, tmp_path):
        """A 1-D table store's writer stats must NOT shrink the span
        partitions (per-cell stats are the O(n_cells) artifact the
        tier keeps off the driver) — pruning happens in the tasks."""
        df = spark.range(0, 2000, 1, 4).select(F.col("id").alias("k"))
        path = str(tmp_path / "pps")
        write_zarr(df, path, chunk_rows=128)
        filters = [GreaterThan(("k",), 1899)]
        pruned = _reader(
            path, filters, plan_cells_max="0", chunks_per_partition="2"
        )
        unfiltered = _reader(
            path, plan_cells_max="0", chunks_per_partition="2"
        )
        assert len(pruned.partitions()) == len(unfiltered.partitions())
        assert sorted(_task_pruned_cells(pruned)) == sorted(
            _driver_pruned_cells(_reader(path, filters))
        )

    def test_num_partitions_boundary_unchanged(self, spark, tmp_path):
        """The num_partitions contract splits the FULL ordinal space
        in the span tier (documented boundary difference) — the
        pre-prune must not alter it."""
        path = self._grid(tmp_path)
        filters = [LessThan(("lat",), 4.0)]
        r = _reader(
            path, filters, plan_cells_max="0", num_partitions="4"
        )
        parts = r.partitions()
        assert [p.spans for p in parts] == [
            [(0, 16)], [(16, 32)], [(32, 48)], [(48, 64)]
        ]


class TestSpanRealGridStorm:
    """r12 (VERDICT item 6): a REAL ~26k-cell grid — actual chunk
    objects, not the metadata-declared trick — scanned through the
    span tier under CONCURRENT tasks with a GET counter on the store:
    task count equals the span-partition count, pruned cells never
    touch a data chunk, and the scan-token worker cache bounds the
    coordinate re-fetches."""

    def test_get_counts_under_concurrent_tasks(
        self, spark, tmp_path, monkeypatch
    ):
        import collections
        import threading
        from concurrent.futures import ThreadPoolExecutor

        import numpy as np

        from arrow_zarr_spark.datasource import ZarrReader
        from arrow_zarr_spark.zarr.store import LocalStore

        side = 160  # (160, 160) chunk (1,1): 25_600 real chunk files
        path = str(tmp_path / "storm")
        write_store(
            path,
            arrays={
                "data": np.arange(
                    side * side, dtype=np.float64
                ).reshape(side, side),
                "lat": np.arange(side, dtype=np.float64),
                "lon": np.arange(side, dtype=np.float64),
            },
            chunk_shapes={
                # v3 contract: coord chunks must match the data chunk
                # along their axis -> (1,): 160 real bound chunks/axis
                "data": (1, 1), "lat": (1,), "lon": (1,)
            },
            dimension_names={
                "data": ("lat", "lon"),
                "lat": ("lat",),
                "lon": ("lon",),
            },
        )

        calls = collections.Counter()
        lock = threading.Lock()
        orig_get = LocalStore.get

        def counting_get(self, key):
            with lock:
                calls[key] += 1
            return orig_get(self, key)

        monkeypatch.setattr(LocalStore, "get", counting_get)

        def n_gets(pred):
            with lock:
                return sum(v for k, v in calls.items() if pred(k))

        data_chunk = lambda k: k.startswith("data/c/")
        coord_chunk = lambda k: k.startswith(("lat/c/", "lon/c/"))

        filters = [
            LessThan(("lat",), 10.0),
            GreaterThan(("lon",), 149.0),
        ]  # 10 x 10 surviving cells of 25_600

        # -- pre-pruned plan: partitions carry only survivors --
        r = _reader(
            path, filters, plan_cells_max="0",
            chunks_per_partition="64",
        )
        parts = r.partitions()
        assert len(parts) == 2  # ceil(100 / 64)
        calls.clear()
        with ThreadPoolExecutor(max_workers=2) as pool:
            out = list(
                pool.map(lambda p: sum(b.num_rows for b in r.read(p)), parts)
            )
        assert sum(out) == 100
        assert n_gets(data_chunk) == 100  # pruned cells: ZERO data I/O

        # -- budget-fallback plan: 400 full-range span tasks STORM the
        # worker cache; pruning runs in every task --
        monkeypatch.setattr(
            ZarrReader, "SPAN_PRUNE_RUNS_MAX", 0
        )
        r2 = _reader(
            path, filters, plan_cells_max="0",
            chunks_per_partition="64",
        )
        parts2 = r2.partitions()
        assert len(parts2) == 400  # 25_600 / 64: task count == spans
        calls.clear()
        with ThreadPoolExecutor(max_workers=16) as pool:
            rows = sum(
                pool.map(
                    lambda p: sum(b.num_rows for b in r2.read(p)), parts2
                )
            )
        assert rows == 100
        assert n_gets(data_chunk) == 100  # 25_500 no-op cells read nothing
        # two coordinate-read classes share the key space: the BOUNDS
        # fetch (touches every coord chunk; scan-token cached, at most
        # one duplicate compute per racing thread) and the data-phase
        # reads of the 10x10 surviving box. Out-of-box keys can only
        # come from bounds fetches, so they isolate the cache claim.
        in_box = lambda k: (
            (k.startswith("lat/c/") and int(k.rsplit("/", 1)[1]) < 10)
            or (
                k.startswith("lon/c/")
                and int(k.rsplit("/", 1)[1]) >= 150
            )
        )
        bounds_only = lambda k: coord_chunk(k) and not in_box(k)
        assert n_gets(coord_chunk) <= 16 * 2 * side + 200
        warm = n_gets(bounds_only)
        assert warm <= 16 * 2 * side
        # warm rerun, same scan token: ZERO new bounds GETs
        rows2 = sum(sum(b.num_rows for b in r2.read(p)) for p in parts2)
        assert rows2 == 100 and n_gets(bounds_only) == warm


class TestLatticeRuns:
    """Property tests for the pre-prune's pure run-composition
    arithmetic (_lattice_runs): against brute-force survivor
    enumeration on random grids, the runs must cover EXACTLY the
    cells whose every axis index survives — sorted, disjoint,
    maximally merged — with [] for empty lattices and None only past
    the budget."""

    def test_property_random_lattices(self):
        import itertools
        import random

        from arrow_zarr_spark.datasource import _lattice_runs

        rng = random.Random(12)
        for trial in range(300):
            nd = rng.randint(1, 3)
            grid = [rng.randint(1, 6) for _ in range(nd)]
            keep = [
                sorted(
                    rng.sample(range(g), rng.randint(0, g))
                )
                for g in grid
            ]
            runs = _lattice_runs(keep, grid, 1 << 16)
            assert runs is not None
            # expand runs
            got = []
            for s, e in runs:
                assert s < e
                got.extend(range(s, e))
            # sorted + disjoint + maximally merged
            assert got == sorted(set(got))
            for (s1, e1), (s2, e2) in zip(runs, runs[1:]):
                assert e1 < s2  # a gap, else they'd have merged
            # brute force survivors
            want = [
                i
                for i, cell in enumerate(
                    itertools.product(*(range(g) for g in grid))
                )
                if all(cell[ax] in keep[ax] for ax in range(nd))
            ]
            assert got == want, (grid, keep)

    def test_budget_returns_none(self):
        from arrow_zarr_spark.datasource import _lattice_runs

        keep = [[0, 2, 4, 6], [0, 2]]  # 4 outer x 2 last-runs = 8
        assert _lattice_runs(keep, [8, 4], 7) is None
        assert _lattice_runs(keep, [8, 4], 8) is not None

    def test_empty_axis_is_empty_not_none(self):
        from arrow_zarr_spark.datasource import _lattice_runs

        assert _lattice_runs([[], [0, 1]], [4, 4], 100) == []
        assert _lattice_runs([[0], []], [4, 4], 100) == []


class TestSpanPrePruneDims:
    """The pre-prune across plan kinds and dimensionalities: a 3-D
    data grid and an all-coords Cartesian plan must pre-prune
    identically to the driver-side prune."""

    def test_3d_grid(self, spark, tmp_path):
        import numpy as np

        path = str(tmp_path / "pp3d")
        write_store(
            path,
            arrays={
                "v": np.arange(4096.0).reshape(16, 16, 16),
                "x": np.arange(16, dtype=np.float64),
                "y": np.arange(16, dtype=np.float64),
                "z": np.arange(16, dtype=np.float64),
            },
            chunk_shapes={
                "v": (4, 4, 4), "x": (4,), "y": (4,), "z": (4,)
            },
            dimension_names={
                "v": ("x", "y", "z"),
                "x": ("x",), "y": ("y",), "z": ("z",),
            },
        )
        filters = [
            LessThan(("x",), 4.0),      # x chunk 0
            GreaterThan(("z",), 11.0),  # z chunk 3
        ]
        pruned = _reader(
            path, filters, plan_cells_max="0", chunks_per_partition="2"
        )
        parts = pruned.partitions()
        # 1 x 4 x 1 = 4 surviving cells in 2 partitions
        assert len(parts) == 2
        assert sorted(_task_pruned_cells(pruned)) == sorted(
            _driver_pruned_cells(_reader(path, filters))
        )
        pred = "x < 4 AND z > 11"
        want = sorted(
            tuple(r)
            for r in spark.read.format("zarr")
            .load(path).filter(pred).collect()
        )
        got = sorted(
            tuple(r)
            for r in spark.read.format("zarr")
            .option("plan_cells_max", "0")
            .load(path).filter(pred).collect()
        )
        assert got == want and len(got) == 4 * 16 * 4

    def test_all_coords_cartesian(self, spark, tmp_path):
        import numpy as np

        path = str(tmp_path / "ppac")
        write_store(
            path,
            arrays={
                "a": np.arange(12, dtype=np.float64),
                "b": np.arange(8, dtype=np.float64) * 10.0,
            },
            chunk_shapes={"a": (3,), "b": (2,)},
            dimension_names={"a": ("a",), "b": ("b",)},
        )
        filters = [GreaterThan(("a",), 8.0)]  # a chunks 2(partial),3
        pruned = _reader(path, filters, plan_cells_max="0")
        assert sorted(_task_pruned_cells(pruned)) == sorted(
            _driver_pruned_cells(_reader(path, filters))
        )
        pred = "a > 8"
        want = sorted(
            tuple(r)
            for r in spark.read.format("zarr")
            .load(path).filter(pred).collect()
        )
        got = sorted(
            tuple(r)
            for r in spark.read.format("zarr")
            .option("plan_cells_max", "0")
            .load(path).filter(pred).collect()
        )
        assert got == want and len(got) == 3 * 8


class TestLazyAxisRanges:
    """r13 (the ADVICE medium): unpruned axes flow through the
    pre-prune as lazy range objects — a skewed span-tier grid (one
    huge axis, a predicate on the small one) must never materialize
    an O(n_cells)-class index list on the driver, and a full step-1
    range on the last axis composes as a single run in O(1)."""

    def test_huge_last_axis_is_one_run(self):
        import time

        from arrow_zarr_spark.datasource import _lattice_runs

        big = 16_000_000
        t0 = time.perf_counter()
        runs = _lattice_runs([[1, 3], range(big)], [4, big], 1 << 16)
        dt = time.perf_counter() - t0
        assert runs == [(big * 1, big * 2), (big * 3, big * 4)]
        assert dt < 0.05  # arithmetic, not enumeration

    def test_huge_outer_axis_hits_budget_instantly(self):
        import time

        from arrow_zarr_spark.datasource import _lattice_runs

        big = 16_000_000
        t0 = time.perf_counter()
        # the pruned axis is LAST: the unpruned huge axis is outer,
        # so n_outer = 16M blows the 64Ki budget — must return None
        # without ever iterating the range
        assert (
            _lattice_runs([range(big), [1, 2]], [big, 4], 1 << 16)
            is None
        )
        assert time.perf_counter() - t0 < 0.05

    def test_range_and_list_agree(self):
        from arrow_zarr_spark.datasource import _lattice_runs

        for keep_l, grid in [
            ([[0, 1, 2, 3], [1, 2]], [4, 4]),
            ([[1], [0, 1, 2]], [3, 3]),
            ([[0, 1], [0, 1, 2, 3], [2]], [2, 4, 5]),
        ]:
            keep_r = [
                range(len(k)) if k == list(range(len(k))) else k
                for k in keep_l
            ]
            assert _lattice_runs(keep_r, grid, 1 << 16) == _lattice_runs(
                keep_l, grid, 1 << 16
            )

    def test_skewed_declared_grid_preprunes_fast(self, spark, tmp_path):
        """End-to-end: a metadata-declared (32 x huge) grid with a
        coordinate predicate on the SMALL axis plans pruned spans in
        metadata time — the huge unpruned axis stays a lazy range all
        the way through _span_coord_runs."""
        import json
        import time

        import numpy as np

        path = str(tmp_path / "skew")
        write_store(
            path,
            arrays={
                "data": np.arange(1024.0).reshape(32, 32),
                "lat": np.arange(32, dtype=np.float64),
                "lon": np.arange(32, dtype=np.float64),
            },
            chunk_shapes={"data": (4, 4), "lat": (4,), "lon": (4,)},
            dimension_names={
                "data": ("lat", "lon"),
                "lat": ("lat",),
                "lon": ("lon",),
            },
        )
        # declare lon (the last data axis) huge: 4M chunks of 4
        big_cols = 4_000_000 * 4
        store = open_store(path)
        for name, shape in [
            ("data", [32, big_cols]),
            ("lon", [big_cols]),
        ]:
            doc = json.loads(store.get(f"{name}/zarr.json"))
            doc["shape"] = shape
            store.set(f"{name}/zarr.json", json.dumps(doc).encode())
            root = json.loads(store.get("zarr.json"))
            cm = root.get("consolidated_metadata")
            if cm:  # write_store roots may not consolidate
                cm["metadata"][name]["shape"] = shape
                store.set("zarr.json", json.dumps(root).encode())

        filters = [LessThan(("lat",), 4.0)]  # keeps lat chunk 0 only
        t0 = time.perf_counter()
        reader = _reader(path, filters, plan_cells_max="0")
        parts = reader.partitions()
        dt = time.perf_counter() - t0
        assert dt < 5.0
        declared = sum(
            e - s for p in parts for s, e in (p.spans or [])
        )
        # 1 surviving lat chunk x 4M lon chunks, of 8 x 4M declared
        assert declared == 4_000_000


class TestPrefetchBound:
    """r13 (the r11 ADVICE floor-of-2): ``prefetch`` is an exact
    in-flight bound on _load_cell — prefetch=1 really does bound a
    task to ONE in-flight decoded chunk (the old seeding submitted
    two before honoring depth)."""

    def _store(self, tmp_path, n_chunks=12):
        import numpy as np

        path = str(tmp_path / "pf")
        write_store(
            path,
            arrays={"k": np.arange(4.0 * n_chunks)},
            chunk_shapes={"k": (4,)},
        )
        return path

    def _max_inflight(self, reader, part):
        import threading

        lock = threading.Lock()
        state = {"cur": 0, "peak": 0}
        real = reader._load_cell

        def tracked(*a, **kw):
            with lock:
                state["cur"] += 1
                state["peak"] = max(state["peak"], state["cur"])
            try:
                return real(*a, **kw)
            finally:
                with lock:
                    state["cur"] -= 1

        reader._load_cell = tracked
        try:
            for _ in reader.read(part):
                pass
        finally:
            reader._load_cell = real
        return state["peak"]

    def test_prefetch_one_bounds_to_one(self, tmp_path):
        path = self._store(tmp_path)
        reader = _reader(path, prefetch="1", io_threads="4")
        for part in reader.partitions():
            assert self._max_inflight(reader, part) <= 1

    def test_prefetch_depth_still_overlaps(self, tmp_path):
        path = self._store(tmp_path)
        reader = _reader(
            path, prefetch="3", io_threads="4",
            chunks_per_partition="12",
        )
        peaks = [
            self._max_inflight(reader, p) for p in reader.partitions()
        ]
        assert all(p <= 3 for p in peaks)


class TestSpanCacheByteBound:
    """r13 (the r11 ADVICE): the worker span cache holds multi-MB
    decoded sidecar blocks invisible to Spark's memory manager — the
    LRU must evict on BYTES, not only entry count."""

    def test_byte_bound_evicts(self, monkeypatch):
        import numpy as np

        from arrow_zarr_spark import datasource as ds

        monkeypatch.setattr(ds, "_SPAN_CACHE_MAX_BYTES", 1 << 20)
        with ds._SPAN_CACHE_LOCK:
            ds._SPAN_CACHE.clear()
            ds._SPAN_CACHE_SIZES.clear()
        ds._SPAN_CACHE_BYTES = 0
        blk = lambda: np.zeros(64 * 1024, dtype=np.float64)  # 512 KiB
        for i in range(8):
            ds._span_cached(("t", i), blk)
        assert len(ds._SPAN_CACHE) < 8  # count cap alone would keep all
        assert ds._SPAN_CACHE_BYTES <= 1 << 20
        # the newest entry survives
        assert ("t", 7) in ds._SPAN_CACHE

    def test_bytes_accounting_balances(self, monkeypatch):
        import numpy as np

        from arrow_zarr_spark import datasource as ds

        with ds._SPAN_CACHE_LOCK:
            ds._SPAN_CACHE.clear()
            ds._SPAN_CACHE_SIZES.clear()
        ds._SPAN_CACHE_BYTES = 0
        for i in range(3):
            ds._span_cached(
                ("b", i), lambda: np.zeros(10, dtype=np.int64)
            )
        assert ds._SPAN_CACHE_BYTES == sum(
            ds._SPAN_CACHE_SIZES.values()
        )
