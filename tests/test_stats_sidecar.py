"""Sharded sidecar statistics (zarr/stats.py) — the round-8 answer to
"past STATS_MAX_OBJECTS the store loses planning-time pruning":
entries move to ``__stats__/<array>/<block>.json`` behind a tiny
marker attribute, the planner loads blocks lazily per pruning pass,
and every mutation verb keeps the sidecar sound (invalidate-first,
rename-follows, drop-deletes, vacuum-spares).

Soundness bar (same as inline): anything torn or stale resolves to
"unknown" and pruning degrades to keep-everything, never to a wrong
answer.
"""

import json

import pytest
from pyspark.sql import functions as F

from arrow_zarr_spark.datasource import ZarrDataSource
from arrow_zarr_spark.io import refresh_stats, upsert_zarr, write_zarr
from arrow_zarr_spark.zarr import infer_store_arrays, open_store
from arrow_zarr_spark.zarr.meta import STATS_ATTR_KEY
from arrow_zarr_spark.zarr.stats import (
    block_key,
    delete_sidecar,
    is_sidecar_marker,
    resolve_stats,
    store_stats,
)
from pyspark.sql.datasource import GreaterThan, LessThan


def _reader_cells(path, filters):
    """Surviving cells after static pruning via the real DataSource
    planning path (pushFilters before partitions, as Spark calls
    it)."""
    ds = ZarrDataSource({"path": path})
    reader = ds.reader(ds.schema())
    list(reader.pushFilters(filters))
    return [c for p in reader.partitions() for c in p.cells]


@pytest.fixture
def small_caps(monkeypatch):
    """Shrink the inline cap and the block size so a 20-object store
    exercises the multi-block sidecar machinery."""
    import arrow_zarr_spark.io as io_mod
    import arrow_zarr_spark.zarr.stats as stats_mod

    monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
    monkeypatch.setattr(stats_mod, "STATS_BLOCK_ENTRIES", 4)
    yield


class TestRoundtrip:
    def test_store_resolve_roundtrip_inline_and_sidecar(
        self, tmp_path, small_caps
    ):
        store = open_store(str(tmp_path))
        short = [[i, i + 1] for i in range(3)]
        assert store_stats(store, "a", short, 4) == short  # inline
        long = [[i, i + 1] for i in range(10)]
        marker = store_stats(store, "a", long, 4)
        assert is_sidecar_marker(marker)
        assert marker == {
            "sidecar": 3,
            "n_entries": 10,
            "block_entries": 4,
        }
        assert resolve_stats(store, "a", marker) == long
        assert resolve_stats(store, "a", long) == long  # passthrough
        assert store_stats(store, "a", None, 4) is None
        # the None write also cleared the blocks
        assert store.get(block_key("a", 0)) is None

    def test_torn_sidecar_resolves_to_none(self, tmp_path, small_caps):
        store = open_store(str(tmp_path))
        long = [[i, i + 1] for i in range(10)]
        marker = store_stats(store, "a", long, 4)
        store.delete(block_key("a", 1))
        assert resolve_stats(store, "a", marker) is None  # missing blk
        store.set(block_key("a", 1), b"not json")
        assert resolve_stats(store, "a", marker) is None
        store.set(block_key("a", 1), json.dumps([[0, 1]]).encode())
        assert resolve_stats(store, "a", marker) is None  # short total
        bogus = dict(marker, n_entries=99)
        assert resolve_stats(store, "a", bogus) is None

    def test_shrink_back_under_cap_leaves_no_debris(
        self, tmp_path, small_caps
    ):
        store = open_store(str(tmp_path))
        store_stats(store, "a", [[i, i] for i in range(10)], 4)
        assert store.get(block_key("a", 2)) is not None
        val = store_stats(store, "a", [[0, 1]], 4)
        assert val == [[0, 1]]
        assert store.get(block_key("a", 0)) is None
        assert store.get(block_key("a", 2)) is None


class TestPastCapPruning:
    def test_past_cap_store_prunes_at_partitions_level(
        self, spark, tmp_path, small_caps
    ):
        # THE verdict item-5 bar: a store past the inline cap still
        # drops provably-empty objects at planning time
        path = str(tmp_path / "s")
        df = spark.range(0, 2000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)  # 20 objects, 5 blocks
        store = open_store(path)
        meta = infer_store_arrays(store)[0].meta
        assert is_sidecar_marker(meta.attributes[STATS_ATTR_KEY])
        assert len(_reader_cells(path, [])) == 20
        kept = _reader_cells(path, [GreaterThan("k", 1699)])
        assert len(kept) == 3  # objects 17..19 survive (16 tops at 1699)
        kept = _reader_cells(path, [LessThan("k", 100)])
        assert len(kept) == 1
        # and the values are exact through the full read path
        got = (
            spark.read.format("zarr")
            .load(path)
            .filter(F.col("k") >= 1995)
            .count()
        )
        assert got == 5

    def test_append_to_past_cap_store_patches_blocks_in_place(
        self, spark, tmp_path, small_caps
    ):
        path = str(tmp_path / "s")
        df = spark.range(0, 1200, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)  # 12 objects, 3 blocks
        store = open_store(path)
        block0_before = store.get(block_key("k", 0))
        more = spark.range(1200, 2000, 1, 4).select(
            F.col("id").alias("k")
        )
        write_zarr(more, path, chunk_rows=100, mode="append")
        # untouched old blocks are untouched BYTES (the damage-
        # proportional claim)
        assert store.get(block_key("k", 0)) == block0_before
        meta = infer_store_arrays(store)[0].meta
        entries = resolve_stats(
            store, "k", meta.attributes[STATS_ATTR_KEY]
        )
        assert len(entries) == 20
        assert entries[0] == [0, 99] and entries[19] == [1900, 1999]
        kept = _reader_cells(path, [GreaterThan("k", 1899)])
        assert len(kept) == 1

    def test_append_to_statless_past_cap_store_prunes_new_objects(
        self, spark, tmp_path, small_caps
    ):
        path = str(tmp_path / "s")
        df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100, stats=False)
        more = spark.range(1000, 2000, 1, 4).select(
            F.col("id").alias("k")
        )
        write_zarr(more, path, chunk_rows=100, mode="append")
        store = open_store(path)
        meta = infer_store_arrays(store)[0].meta
        entries = resolve_stats(
            store, "k", meta.attributes[STATS_ATTR_KEY]
        )
        # old objects unknown (never prune), new objects bounded
        assert entries[:10] == [None] * 10
        assert entries[10] == [1000, 1099]
        assert len(_reader_cells(path, [GreaterThan("k", 1899)])) == 11

    def test_refresh_migrates_sidecar_back_inline(
        self, spark, tmp_path, small_caps
    ):
        import arrow_zarr_spark.io as io_mod

        path = str(tmp_path / "s")
        df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)  # 10 objects: sidecar
        store = open_store(path)
        assert is_sidecar_marker(
            infer_store_arrays(store)[0].meta.attributes[STATS_ATTR_KEY]
        )
        # raise the cap back: refresh converges on inline and clears
        # the blocks
        io_mod.STATS_MAX_OBJECTS = 65536
        refresh_stats(spark, path)
        meta = infer_store_arrays(store)[0].meta
        assert isinstance(meta.attributes[STATS_ATTR_KEY], list)
        assert store.get(block_key("k", 0)) is None


class TestMutationVerbs:
    def test_upsert_invalidates_and_restats_sidecar(
        self, spark, tmp_path, small_caps
    ):
        path = str(tmp_path / "s")
        df = spark.range(0, 1000, 1, 4).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        write_zarr(df, path, chunk_rows=100)
        store = open_store(path)
        # upsert 10 keys inside object 3 with out-of-range values
        batch = spark.range(300, 310).select(
            F.col("id").alias("k"),
            F.lit(10_000_000).cast("long").alias("v"),
        )
        res = upsert_zarr(batch, path, key_col="k")
        assert res["updated_rows"] == 10
        metas = {
            a.meta.name: a.meta for a in infer_store_arrays(store)
        }
        v_entries = resolve_stats(
            store, "v", metas["v"].attributes[STATS_ATTR_KEY]
        )
        # the touched object's bounds reflect the update; neighbors
        # are untouched
        assert v_entries[3] == [620, 10_000_000]  # 600..618 overwritten
        assert v_entries[2] == [400, 598]
        # pruning on the new value finds exactly the touched object
        kept = _reader_cells(path, [GreaterThan("v", 9_999_999)])
        assert len(kept) == 1

    def test_upsert_crash_between_invalidate_and_write_is_sound(
        self, spark, tmp_path, small_caps, monkeypatch
    ):
        # simulate the invalidate-first window: null the touched
        # entry by hand (what the protocol publishes first) and check
        # the reader KEEPS the object
        path = str(tmp_path / "s")
        df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)
        store = open_store(path)
        raw = json.loads(store.get(block_key("k", 0)))
        raw[3] = None
        store.set(block_key("k", 0), json.dumps(raw).encode())
        kept = _reader_cells(path, [LessThan("k", 100)])
        assert len(kept) == 2  # object 0 (match) + object 3 (unknown)

    def test_rename_moves_sidecar_and_drop_deletes_it(
        self, spark, tmp_path, small_caps
    ):
        from arrow_zarr_spark.io import (
            drop_zarr_array,
            rename_zarr_array,
        )

        path = str(tmp_path / "s")
        df = spark.range(0, 1000, 1, 4).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        write_zarr(df, path, chunk_rows=100)
        store = open_store(path)
        rename_zarr_array(path, "v", "w")
        assert store.get(block_key("v", 0)) is None
        metas = {
            a.meta.name: a.meta for a in infer_store_arrays(store)
        }
        entries = resolve_stats(
            store, "w", metas["w"].attributes[STATS_ATTR_KEY]
        )
        assert entries[0] == [0, 198]
        drop_zarr_array(path, "w")
        assert store.get(block_key("w", 0)) is None

    def test_vacuum_spares_live_sidecar_flags_orphaned(
        self, spark, tmp_path, small_caps
    ):
        from arrow_zarr_spark.io import vacuum_zarr

        path = str(tmp_path / "s")
        df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)
        store = open_store(path)
        # debris: a sidecar for an array that does not exist
        store.set(block_key("ghost", 0), b"[]")
        report = vacuum_zarr(path, dry_run=True)
        assert f"__stats__/ghost/0.json" in report["orphans"]
        assert not any(
            o.startswith("__stats__/k/") for o in report["orphans"]
        )

    def test_stats_false_write_clears_sidecar(
        self, spark, tmp_path, small_caps
    ):
        path = str(tmp_path / "s")
        df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)
        store = open_store(path)
        assert store.get(block_key("k", 0)) is not None
        more = spark.range(1000, 1100, 1, 2).select(
            F.col("id").alias("k")
        )
        write_zarr(more, path, chunk_rows=100, mode="append", stats=False)
        meta = infer_store_arrays(store)[0].meta
        assert STATS_ATTR_KEY not in meta.attributes
        assert store.get(block_key("k", 0)) is None


class TestSoundnessProperty:
    def test_random_mutation_sequences_keep_bounds_sound(
        self, spark, small_caps
    ):
        """Property-flavored soundness sweep (seeded, bounded): random
        write/append/upsert/refresh sequences over a past-cap store
        must leave EVERY recorded [lo, hi] entry bracketing the true
        min/max of its object — the invariant that makes pruning safe
        — and static pruning must keep exactly the objects a
        brute-force bound check keeps."""
        import numpy as np

        from arrow_zarr_spark.io import refresh_stats, upsert_zarr

        rng = np.random.RandomState(7)
        for scenario in range(3):
            path = f"/tmp/azs_sidecar_prop_{scenario}"
            import shutil

            shutil.rmtree(path, ignore_errors=True)
            n0 = int(rng.randint(6, 12)) * 100
            df = spark.range(0, n0, 1, 4).select(
                F.col("id").alias("k"),
                (F.col("id") * 7 % 1000).cast("long").alias("v"),
            )
            write_zarr(df, path, chunk_rows=100)
            ops = rng.choice(["append", "upsert", "refresh"], size=3)
            hi = n0
            for op in ops:
                if op == "append":
                    add = int(rng.randint(2, 5)) * 100
                    more = spark.range(hi, hi + add, 1, 2).select(
                        F.col("id").alias("k"),
                        (F.col("id") * 7 % 1000).cast("long").alias("v"),
                    )
                    write_zarr(
                        more, path, chunk_rows=100, mode="append"
                    )
                    hi += add
                elif op == "upsert":
                    lo = int(rng.randint(0, hi - 50))
                    batch = spark.range(lo, lo + 50).select(
                        F.col("id").alias("k"),
                        (F.col("id") % 13 + 5000).cast("long").alias("v"),
                    )
                    upsert_zarr(batch, path, key_col="k")
                elif op == "refresh":
                    refresh_stats(spark, path)

            # ground truth per object from a full read
            rows = (
                spark.read.format("zarr")
                .load(path)
                .orderBy("k")
                .collect()
            )
            vals = {
                "k": np.array([r["k"] for r in rows]),
                "v": np.array([r["v"] for r in rows]),
            }
            n_objects = -(-len(rows) // 100)
            store = open_store(path)
            for col in ("k", "v"):
                meta = next(
                    a.meta
                    for a in infer_store_arrays(store)
                    if a.meta.name == col
                )
                entries = resolve_stats(
                    store, col, meta.attributes.get(STATS_ATTR_KEY)
                )
                assert entries is not None and len(entries) == n_objects
                for i in range(n_objects):
                    seg = vals[col][i * 100 : (i + 1) * 100]
                    e = entries[i]
                    if e is None or e[0] is None or e[1] is None:
                        continue  # unknown never prunes: sound
                    assert e[0] <= seg.min() and e[1] >= seg.max(), (
                        scenario, col, i, e, (seg.min(), seg.max())
                    )

            # pruning == brute force on a random range predicate
            cut = int(rng.randint(0, hi))
            kept = {
                c[0]
                for c in _reader_cells(path, [GreaterThan("k", cut)])
            }
            must_keep = {
                i
                for i in range(n_objects)
                if vals["k"][i * 100 : (i + 1) * 100].max() > cut
            }
            assert must_keep <= kept, (scenario, cut)


class TestGridSidecar:
    def test_grid_append_extends_sidecar(
        self, spark, tmp_path, small_caps
    ):
        """Grid append along a dimension on a past-inline-cap store:
        old cells' entries survive (resolved from the sidecar), new
        cells' bounds land, and the result re-publishes as a sidecar."""
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "g")

        def grid_rows(x0, x1):
            return spark.createDataFrame(
                [
                    (float(x), float(y), float(x * 100 + y))
                    for x in range(x0, x1)
                    for y in range(8)
                ],
                ["x", "y", "val"],
            )

        write_zarr_grid(
            grid_rows(0, 8), path, dims=("x", "y"), chunk_shape=(2, 2)
        )  # 16 cells > inline cap 4
        store = open_store(path)
        m0 = {
            a.meta.name: a.meta for a in infer_store_arrays(store)
        }["val"]
        e0 = resolve_stats(store, "val", m0.attributes[STATS_ATTR_KEY])
        assert len(e0) == 16
        write_zarr_grid(
            grid_rows(8, 12), path, dims=("x", "y"),
            chunk_shape=(2, 2), mode="append", append_dim="x",
        )  # 24 cells now
        m1 = {
            a.meta.name: a.meta for a in infer_store_arrays(store)
        }["val"]
        e1 = resolve_stats(store, "val", m1.attributes[STATS_ATTR_KEY])
        assert e1 is not None and len(e1) == 24
        # spot-check: cell (0,0) covers x 0-1, y 0-1 -> [0, 101];
        # a new cell (5,0) covers x 10-11, y 0-1 -> [1000, 1101]
        assert e1[0] == [0.0, 101.0]
        assert e1[5 * 4] == [1000.0, 1101.0]
        # pruning through the real reader on the appended store
        kept = _reader_cells(path, [GreaterThan(("val",), 1100.0)])
        assert 0 < len(kept) < 24

    def test_grid_region_update_patches_sidecar(
        self, spark, tmp_path, small_caps
    ):
        from arrow_zarr_spark.io import write_zarr_grid, write_zarr_region

        path = str(tmp_path / "g")
        df = spark.createDataFrame(
            [
                (float(x), float(y), float(x * 100 + y))
                for x in range(8)
                for y in range(8)
            ],
            ["x", "y", "val"],
        )
        write_zarr_grid(df, path, dims=("x", "y"), chunk_shape=(2, 2))
        fixes = spark.createDataFrame(
            [(0.0, 0.0, 999999.0)], ["x", "y", "val"]
        )
        write_zarr_region(fixes, path, dims=("x", "y"))
        store = open_store(path)
        meta = {
            a.meta.name: a.meta for a in infer_store_arrays(store)
        }["val"]
        entries = resolve_stats(
            store, "val", meta.attributes[STATS_ATTR_KEY]
        )
        assert entries[0] == [1.0, 999999.0]  # cell 0 re-statted
        assert entries[1] == [2.0, 103.0]  # neighbor untouched
        kept = _reader_cells(path, [GreaterThan(("val",), 900000.0)])
        assert len(kept) == 1


class TestV2Sidecar:
    def test_v2_store_sidecar_via_refresh(
        self, spark, tmp_path, small_caps
    ):
        """Zarr v2 stores keep stats in .zattrs; past-cap refresh must
        put the MARKER there (not a giant list) and the reader must
        still prune through the v2 metadata path."""
        path = str(tmp_path / "v2")
        df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100, zarr_format=2, stats=False)
        n = refresh_stats(spark, path)
        assert n == 10
        store = open_store(path)
        zattrs = json.loads(store.get("k/.zattrs"))
        assert is_sidecar_marker(zattrs[STATS_ATTR_KEY])
        entries = resolve_stats(store, "k", zattrs[STATS_ATTR_KEY])
        assert entries[0] == [0, 99] and entries[9] == [900, 999]
        kept = _reader_cells(path, [GreaterThan("k", 899)])
        assert len(kept) == 1
        # and values stay exact through the full read path
        assert (
            spark.read.format("zarr").load(path)
            .filter(F.col("k") >= 995).count()
        ) == 5


# NOTE deliberately absent: a past-cap SINK test. The DataSource
# writer's commit() runs in an isolated Python worker, so a
# monkeypatched STATS_MAX_OBJECTS never reaches it (verified: the
# worker correctly used the real cap and wrote inline). The sink's
# store_stats routing is the same one-line decision the unit tests
# above pin, and its sub-cap behavior is covered by
# test_stats_pruning.py's sink tests.


class TestVersionedSidecar:
    def test_pinned_read_prunes_with_pinned_sidecar(
        self, spark, tmp_path, small_caps
    ):
        """Version-pinned scans build their arrays on the
        VersionStoreView, so a past-cap store's sidecar blocks
        resolve through the PINNED manifest: the pruning bounds are
        the committed snapshot's, not the live store's — stats and
        data stay consistent under time travel for free."""
        from arrow_zarr_spark import read_zarr
        from arrow_zarr_spark.zarr import commit_version

        path = str(tmp_path / "s")
        df = spark.range(0, 2000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)  # 20 objects, sidecar
        commit_version(spark, path, "v1")
        shifted = spark.range(0, 2000, 1, 4).select(
            (F.col("id") + 10_000).alias("k")
        )
        write_zarr(shifted, path, chunk_rows=100, mode="overwrite")
        commit_version(spark, path, "v2")

        # live scan sees the shifted data and prunes on the NEW stats
        live = spark.read.format("zarr").load(path)
        assert live.filter(F.col("k") >= 11_995).count() == 5
        assert live.filter(F.col("k") < 10_000).count() == 0

        # pinned v1 sees the ORIGINAL data; its filter must return
        # v1 rows (which requires v1's sidecar bounds — pruning with
        # the live bounds would drop every v1 object as impossible)
        v1 = read_zarr(spark, path, version=1)
        assert v1.filter(F.col("k") >= 1995).count() == 5
        assert v1.filter(F.col("k") >= 10_000).count() == 0

        # partitions-level proof through the reader's planning path
        ds = ZarrDataSource({"path": path, "version": "1"})
        reader = ds.reader(ds.schema())
        list(reader.pushFilters([GreaterThan(("k",), 1899)]))
        cells = [c for p in reader.partitions() for c in p.cells]
        assert len(cells) == 1  # v1's last object only


class TestBlockStreaming:
    def test_iter_stats_blocks_yields_and_degrades(
        self, tmp_path, small_caps
    ):
        """The O(one-block) walk upsert's key prune uses: yields each
        block in order; any torn block yields None and stops (the
        caller must degrade to 'unknown' — same bar as
        resolve_stats)."""
        from arrow_zarr_spark.zarr.stats import iter_stats_blocks

        store = open_store(str(tmp_path))
        entries = [[i, i + 1] for i in range(10)]
        marker = store_stats(store, "a", entries, 4)
        got = []
        for part in iter_stats_blocks(store, "a", marker):
            assert part is not None
            got.extend(part)
        assert got == entries
        store.set(block_key("a", 1), b"garbage")
        walked = list(iter_stats_blocks(store, "a", marker))
        assert walked[-1] is None  # torn -> None sentinel, stop
        assert len(walked) == 2  # block 0 then the sentinel
        # non-marker input degrades immediately
        assert list(iter_stats_blocks(store, "a", entries)) == [None]


class TestDistributedAppendStats:
    """r10: the grid APPEND's stats merge past the inline cap runs
    fully distributed (io.py::_merge_stats, one task per changed
    block) — old ordinals remap in the tasks, no entry list ever
    materializes on the driver, and the former STATS_GRID_MAX_OBJECTS
    skip is gone from every grid write verb."""

    @staticmethod
    def _grid(spark, xs, ys):
        return spark.createDataFrame(
            [
                (float(x), float(y), float(x * 100 + y))
                for x in xs
                for y in ys
            ],
            ["x", "y", "val"],
        )

    def _write(self, spark, path, df, **kw):
        from arrow_zarr_spark.io import write_zarr_grid

        return write_zarr_grid(
            df, path, dims=("x", "y"), chunk_shape=(2, 2), **kw
        )

    def test_crossing_cap_remaps_inline_boundary_and_fill(
        self, spark, tmp_path, small_caps
    ):
        """Inline old stats (4 cells) -> appended store past the cap
        (6 cells, 2 sidecar blocks at block size 4). Exercises every
        slot class at once: remapped old cells, a written boundary
        cell (committed wins), an UNWRITTEN boundary cell (old bounds
        union the fill its extension materializes), an unwritten
        new-region cell (pure fill pair), and a written new cell."""
        path = str(tmp_path / "ap1")
        # old: x 0..2 (partial second x-cell), y 0..3
        self._write(spark, path, self._grid(spark, range(3), range(4)))
        store = open_store(path)
        m0 = {a.meta.name: a.meta for a in infer_store_arrays(store)}
        assert not is_sidecar_marker(m0["val"].attributes[STATS_ATTR_KEY])
        # append x 3..5; sparse: x=3 rows only y 0..1 (so boundary
        # cell (1,1) is untouched), x in 4..5 rows only y 2..3 (so
        # new cell (2,0) is untouched)
        sparse = self._grid(spark, [3], [0, 1]).unionByName(
            self._grid(spark, [4, 5], [2, 3])
        )
        self._write(
            spark, path, sparse, mode="append", append_dim="x"
        )
        store = open_store(path)
        meta = {a.meta.name: a.meta for a in infer_store_arrays(store)}[
            "val"
        ]
        marker = meta.attributes[STATS_ATTR_KEY]
        assert is_sidecar_marker(marker) and marker["sidecar"] == 2
        e = resolve_stats(store, "val", marker)
        assert e == [
            [0.0, 101.0],    # (0,0) remapped old
            [2.0, 103.0],    # (0,1) remapped old
            [200.0, 301.0],  # (1,0) boundary, WRITTEN: read-merge
            [0.0, 203.0],    # (1,1) boundary, untouched: old ∪ fill
            [0.0, 0.0],      # (2,0) new region, untouched: fill
            [402.0, 503.0],  # (2,1) new region, written
        ]
        # end-to-end: pruning through the real reader stays sound
        kept = _reader_cells(path, [GreaterThan(("val",), 400.0)])
        assert kept == [(2, 1)]
        back = spark.read.format("zarr").load(path)
        assert back.count() == 6 * 4
        assert back.filter(F.col("val") == 503.0).count() == 1

    def test_sidecar_to_sidecar_remap_reads_old_blocks_in_tasks(
        self, spark, tmp_path, small_caps
    ):
        """Old store already sidecar-backed (6 cells, 2 blocks): the
        append job reads old blocks task-side and republishes the
        grown store's 8 cells across 2 blocks."""
        path = str(tmp_path / "ap2")
        self._write(spark, path, self._grid(spark, range(6), range(4)))
        store = open_store(path)
        m0 = {a.meta.name: a.meta for a in infer_store_arrays(store)}[
            "val"
        ]
        assert is_sidecar_marker(m0.attributes[STATS_ATTR_KEY])
        self._write(
            spark, path, self._grid(spark, [6, 7], range(4)),
            mode="append", append_dim="x",
        )
        store = open_store(path)
        meta = {a.meta.name: a.meta for a in infer_store_arrays(store)}[
            "val"
        ]
        marker = meta.attributes[STATS_ATTR_KEY]
        assert is_sidecar_marker(marker)
        assert marker["n_entries"] == 8 and marker["sidecar"] == 2
        e = resolve_stats(store, "val", marker)
        # old cells remapped verbatim (x len 6 divides evenly: no
        # boundary), new x-cell written
        assert e[0] == [0.0, 101.0]
        assert e[5] == [402.0, 503.0]
        assert e[6] == [600.0, 701.0] and e[7] == [602.0, 703.0]
        kept = _reader_cells(path, [GreaterThan(("val",), 650.0)])
        assert kept == [(3, 0), (3, 1)]

    def test_statless_old_region_stays_unknown(
        self, spark, tmp_path, small_caps
    ):
        """Appending WITH stats onto a stats=False store: old cells
        must resolve to None (unknown — old data lives there; calling
        it fill would prune wrongly), and pruning keeps them."""
        path = str(tmp_path / "ap3")
        self._write(
            spark, path, self._grid(spark, range(4), range(4)),
            stats=False,
        )
        self._write(
            spark, path, self._grid(spark, [4, 5], range(4)),
            mode="append", append_dim="x",
        )
        store = open_store(path)
        meta = {a.meta.name: a.meta for a in infer_store_arrays(store)}[
            "val"
        ]
        e = resolve_stats(store, "val", meta.attributes[STATS_ATTR_KEY])
        assert e[:4] == [None, None, None, None]  # old region unknown
        assert e[4] == [400.0, 501.0] and e[5] == [402.0, 503.0]
        # a predicate excluding every NEW cell still keeps all OLD
        # cells: unknown never prunes
        kept = _reader_cells(path, [LessThan(("val",), 350.0)])
        assert kept == [(0, 0), (0, 1), (1, 0), (1, 1)]

    def test_distributed_path_matches_driver_path_bit_for_bit(
        self, spark, tmp_path, monkeypatch
    ):
        """The same append written through the driver inline path
        (default caps) and the distributed sidecar path (shrunk caps)
        must publish IDENTICAL entry lists — the slicing contract the
        three-tier commit already pins, applied to stats."""
        import arrow_zarr_spark.io as io_mod
        import arrow_zarr_spark.zarr.stats as stats_mod

        old = self._grid(spark, range(3), range(4))
        new = self._grid(spark, [3], [0, 1]).unionByName(
            self._grid(spark, [4, 5], [2, 3])
        )
        p_drv = str(tmp_path / "drv")
        self._write(spark, p_drv, old)
        self._write(spark, p_drv, new, mode="append", append_dim="x")
        s = open_store(p_drv)
        m = {a.meta.name: a.meta for a in infer_store_arrays(s)}["val"]
        e_driver = resolve_stats(s, "val", m.attributes[STATS_ATTR_KEY])
        assert not is_sidecar_marker(m.attributes[STATS_ATTR_KEY])

        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
        monkeypatch.setattr(stats_mod, "STATS_BLOCK_ENTRIES", 4)
        p_dist = str(tmp_path / "dist")
        self._write(spark, p_dist, old)
        self._write(spark, p_dist, new, mode="append", append_dim="x")
        s = open_store(p_dist)
        m = {a.meta.name: a.meta for a in infer_store_arrays(s)}["val"]
        assert is_sidecar_marker(m.attributes[STATS_ATTR_KEY])
        e_dist = resolve_stats(s, "val", m.attributes[STATS_ATTR_KEY])
        assert e_dist == e_driver

    def test_add_column_past_cap_assembles_sidecar(
        self, spark, tmp_path, small_caps
    ):
        """r10: add_zarr_arrays past the inline cap assembles its
        sidecar distributed (the fresh-create block job — the grid is
        unchanged, so no remap) instead of skipping stats."""
        import warnings as _warnings

        from arrow_zarr_spark.io import add_zarr_arrays

        path = str(tmp_path / "ap4")
        self._write(spark, path, self._grid(spark, range(6), range(4)))
        newcol = self._grid(spark, range(3), range(4)).select(
            "x", "y", (F.col("x") + F.col("y")).alias("q")
        )
        with _warnings.catch_warnings():
            _warnings.simplefilter("error", UserWarning)  # no cap warning
            add_zarr_arrays(newcol, path, dims=["x", "y"], fill_value=-1)
        store = open_store(path)
        meta = {a.meta.name: a.meta for a in infer_store_arrays(store)}[
            "q"
        ]
        marker = meta.attributes[STATS_ATTR_KEY]
        assert is_sidecar_marker(marker) and marker["n_entries"] == 6
        e = resolve_stats(store, "q", marker)
        assert e[0] == [0, 2] and e[4] == [-1, -1]  # fill cell known
        kept = _reader_cells(path, [GreaterThan(("q",), 100.0)])
        assert kept == []  # nothing matches -> everything pruned
