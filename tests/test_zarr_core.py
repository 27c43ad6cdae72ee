"""Golden-value tests for the pure-Python Zarr v3 layer, replicating the
reference's inline tests (SURVEY §5; expected literals from
/root/repo/FIXTURES.md)."""

import numpy as np
import pytest

from arrow_zarr_spark.fixtures import (
    write_lat_lon_missing_store,
    write_lat_lon_store,
    write_mixed_dims_store,
    write_no_coords_store,
)
from arrow_zarr_spark.zarr import (
    ChunkPlan,
    ZarrFormatError,
    infer_store_arrays,
    open_store,
    write_store,
)
from arrow_zarr_spark.zarr.codecs import decode_chunk, encode_chunk
from arrow_zarr_spark.zarr.meta import ArrayMeta, parse_array_meta


def _plan(path, columns=None):
    arrays = infer_store_arrays(open_store(path))
    if columns:
        by = {a.meta.name: a for a in arrays}
        arrays = [by[c] for c in columns]
    return ChunkPlan(arrays)


class TestF1LatLon:
    """reference: zarr_data_stream.rs:1057-1127 (read_data_test)."""

    def test_schema_inference(self):
        arrays = infer_store_arrays(open_store(write_lat_lon_store()))
        assert [a.meta.name for a in arrays] == ["data", "lat", "lon"]
        assert all(a.meta.zarr_dtype == "float64" for a in arrays)
        assert [a.meta.is_coordinate() for a in arrays] == [False, True, True]

    def test_chunk_goldens(self):
        plan = _plan(write_lat_lon_store())
        c00 = plan.evaluate((0, 0))
        assert c00["lat"].tolist() == [35, 35, 35, 36, 36, 36, 37, 37, 37]
        assert c00["lon"].tolist() == [-120, -119, -118] * 3
        assert c00["data"].tolist() == [0, 1, 2, 8, 9, 10, 16, 17, 18]
        c02 = plan.evaluate((0, 2))  # right edge, 3x2
        assert c02["lat"].tolist() == [35, 35, 36, 36, 37, 37]
        assert c02["lon"].tolist() == [-114, -113] * 3
        assert c02["data"].tolist() == [6, 7, 14, 15, 22, 23]
        c22 = plan.evaluate((2, 2))  # corner, 2x2
        assert c22["lat"].tolist() == [41, 41, 42, 42]
        assert c22["lon"].tolist() == [-114, -113, -114, -113]
        assert c22["data"].tolist() == [54, 55, 62, 63]

    def test_total_rows(self):
        plan = _plan(write_lat_lon_store())
        assert plan.n_cells == 9
        assert sum(plan.cell_num_rows(c) for c in plan.cells()) == 64

    def test_all_coords_cartesian(self):
        """reference: table_provider.rs:278-287 — SELECT lat, lon = 64 rows."""
        plan = _plan(write_lat_lon_store(), columns=["lat", "lon"])
        assert plan.kind == "all_coords"
        rows = []
        for cell in plan.cells():
            cols = plan.evaluate(cell)
            rows.extend(zip(cols["lat"].tolist(), cols["lon"].tolist()))
        assert len(rows) == 64
        assert len(set(rows)) == 64  # full Cartesian product, no dupes

    def test_partial_broadcast(self):
        """reference: table_provider.rs:374-399 — SELECT data, lon = 64 rows."""
        plan = _plan(write_lat_lon_store(), columns=["data", "lon"])
        assert plan.kind == "data"
        total = sum(len(plan.evaluate(c)["lon"]) for c in plan.cells())
        assert total == 64


class TestF2MissingChunks:
    """reference: zarr_data_stream.rs:1245-1278."""

    def test_fill_value(self):
        plan = _plan(write_lat_lon_missing_store())
        for cell in plan.cells():
            cols = plan.evaluate(cell)
            assert (cols["data"] == 1234.0).all()
            assert len(cols["lat"]) == len(cols["data"])


class TestF3NoCoords:
    """reference: zarr_data_stream.rs:1129-1158."""

    def test_values(self):
        plan = _plan(write_no_coords_store())
        assert plan.grid_shape == (3,)
        d1 = np.concatenate([plan.evaluate(c)["data_1"] for c in plan.cells()])
        d2 = np.concatenate([plan.evaluate(c)["data_2"] for c in plan.cells()])
        assert d1.tolist() == list(range(8))
        assert d2.tolist() == list(range(100, 108))


class TestF4MixedDims:
    """reference: zarr_data_stream.rs:1205-1243 — output equals F1."""

    def test_equals_f1(self):
        p1 = _plan(write_lat_lon_store())
        p4 = _plan(write_mixed_dims_store())
        for cell in p1.cells():
            a, b = p1.evaluate(cell), p4.evaluate(cell)
            for k in ("lat", "lon", "data"):
                assert a[k].tolist() == b[k].tolist()


class TestPartitionSplit:
    """reference: zarr_data_stream.rs:1280-1363."""

    @staticmethod
    def _splits(n_partitions):
        from arrow_zarr_spark.datasource import ZarrDataSource

        ds = ZarrDataSource(
            {"path": write_lat_lon_store(), "num_partitions": n_partitions}
        )
        return [p.cells for p in ds.reader(ds.schema()).partitions()]

    def test_two_way(self):
        splits = self._splits("2")
        assert [len(s) for s in splits] == [5, 4]
        assert splits[1][0] == (1, 2)  # partition 1 starts mid-grid

    def test_over_partition(self):
        splits = self._splits("20")
        assert len(splits) == 20
        assert sum(len(s) for s in splits) == 9
        assert all(len(s) == 0 for s in splits[9:])


class TestCodecs:
    @pytest.mark.parametrize("compression", ["zstd", "gzip", "none"])
    def test_roundtrip(self, compression, tmp_path):
        data = np.arange(100.0).reshape(10, 10)
        path = str(tmp_path / f"rt_{compression}")
        write_store(
            path,
            arrays={"x": data},
            chunk_shapes={"x": (4, 4)},
            compression=compression,
        )
        arrays = infer_store_arrays(open_store(path))
        assert arrays[0].read_all().tolist() == data.tolist()

    def test_transpose_codec(self):
        meta = ArrayMeta(
            name="t",
            shape=(4, 6),
            chunk_shape=(4, 6),
            zarr_dtype="float64",
            fill_value=0.0,
            codecs=[
                {"name": "transpose", "configuration": {"order": [1, 0]}},
                {"name": "bytes", "configuration": {"endian": "little"}},
            ],
        )
        arr = np.arange(24.0).reshape(4, 6)
        assert decode_chunk(meta, encode_chunk(meta, arr)).tolist() == arr.tolist()

    def test_big_endian(self):
        meta = ArrayMeta(
            name="t",
            shape=(3,),
            chunk_shape=(3,),
            zarr_dtype="int32",
            fill_value=0,
            codecs=[{"name": "bytes", "configuration": {"endian": "big"}}],
        )
        arr = np.array([1, -2, 300], dtype=np.int32)
        assert decode_chunk(meta, encode_chunk(meta, arr)).tolist() == arr.tolist()


class TestErrors:
    def test_zarr_v2_rejected(self):
        """reference: config.rs:242-247 — only v3 metadata accepted."""
        with pytest.raises(ZarrFormatError, match="v3"):
            parse_array_meta("x", b'{"zarr_format": 2, "shape": [4]}')

    def test_unsupported_dtype(self):
        """reference: config.rs:278-281."""
        with pytest.raises(ZarrFormatError, match="Unsupported type"):
            parse_array_meta(
                "x",
                b'{"zarr_format": 3, "node_type": "array", "shape": [4],'
                b' "data_type": "complex128", "chunk_grid": {"name": "regular",'
                b' "configuration": {"chunk_shape": [4]}}, "fill_value": 0,'
                b' "codecs": []}',
            )

    def test_4d_rejected(self, tmp_path):
        """reference: zarr_data_stream.rs:799-803."""
        path = str(tmp_path / "d4")
        write_store(
            path,
            arrays={"x": np.zeros((2, 2, 2, 2))},
            chunk_shapes={"x": (1, 1, 1, 1)},
        )
        with pytest.raises(ZarrFormatError, match="Only 1, 2 or 3D"):
            ChunkPlan(infer_store_arrays(open_store(path)))

    def test_mixed_1d_non_coord_rejected(self, tmp_path):
        """reference: zarr_data_stream.rs:180-183 — 1-D arrays in a
        multi-dim store must be coordinates."""
        path = str(tmp_path / "bad_mix")
        write_store(
            path,
            arrays={"data": np.zeros((4, 4)), "vec": np.zeros(4)},
            chunk_shapes={"data": (2, 2), "vec": (2,)},
            dimension_names={"data": ("x", "y")},  # vec has no dim names
        )
        with pytest.raises(ZarrFormatError):
            ChunkPlan(infer_store_arrays(open_store(path)))

    def test_fill_value_nan(self):
        meta = parse_array_meta(
            "x",
            b'{"zarr_format": 3, "node_type": "array", "shape": [4],'
            b' "data_type": "float64", "chunk_grid": {"name": "regular",'
            b' "configuration": {"chunk_shape": [4]}}, "fill_value": "NaN",'
            b' "codecs": []}',
        )
        assert np.isnan(meta.fill_value)


class TestChunkKeyEncodings:
    def test_default_encoding(self):
        meta = ArrayMeta(
            name="x", shape=(8, 8), chunk_shape=(4, 4),
            zarr_dtype="float64", fill_value=0.0,
        )
        assert meta.chunk_key((1, 2)) == "c/1/2"

    def test_default_custom_separator(self):
        meta = ArrayMeta(
            name="x", shape=(8,), chunk_shape=(4,),
            zarr_dtype="float64", fill_value=0.0, separator=".",
        )
        assert meta.chunk_key((3,)) == "c.3"

    def test_v2_encoding(self):
        meta = ArrayMeta(
            name="x", shape=(8, 8), chunk_shape=(4, 4),
            zarr_dtype="float64", fill_value=0.0,
            key_encoding="v2", separator=".",
        )
        assert meta.chunk_key((1, 2)) == "1.2"

    def test_v2_zero_dim(self):
        meta = ArrayMeta(
            name="x", shape=(), chunk_shape=(),
            zarr_dtype="float64", fill_value=0.0, key_encoding="v2",
        )
        assert meta.chunk_key(()) == "0"

    def test_v2_roundtrip_store(self, tmp_path):
        """A store written with v2 chunk keys reads back correctly."""
        import json

        import numpy as np

        from arrow_zarr_spark.zarr import LocalStore, open_array
        from arrow_zarr_spark.zarr.codecs import encode_chunk

        store = LocalStore(str(tmp_path / "v2k"))
        meta = ArrayMeta(
            name="x", shape=(6,), chunk_shape=(3,),
            zarr_dtype="float64", fill_value=0.0,
            key_encoding="v2", separator=".",
            codecs=[{"name": "bytes", "configuration": {"endian": "little"}}],
        )
        store.set("x/zarr.json", json.dumps(meta.to_json()).encode())
        store.set("x/0", encode_chunk(meta, np.array([1.0, 2.0, 3.0])))
        store.set("x/1", encode_chunk(meta, np.array([4.0, 5.0, 6.0])))
        arr = open_array(store, "x")
        assert arr.meta.key_encoding == "v2"
        assert arr.read_all().tolist() == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]


class Test3DStore:
    """3-D is the reference's maximum dimensionality
    (zarr_data_stream.rs:784-804; broadcast arms for dims 0/1/2) —
    golden-value checks for the C-order flatten and all three
    coordinate broadcast directions."""

    def test_3d_flatten_and_broadcast(self):
        from arrow_zarr_spark.fixtures import write_3d_store
        from arrow_zarr_spark.zarr import infer_store_arrays, open_store
        from arrow_zarr_spark.zarr.table import ChunkPlan

        store = open_store(write_3d_store())
        plan = ChunkPlan(infer_store_arrays(store))
        assert plan.grid_shape == (2, 2, 3)
        # first grid cell: time 0..1, lat 35..37, lon -120..-118
        out = plan.evaluate((0, 0, 0))
        assert out["data"].tolist() == [
            0, 1, 2, 8, 9, 10, 16, 17, 18,
            48, 49, 50, 56, 57, 58, 64, 65, 66,
        ]
        assert out["time"].tolist() == [0.0] * 9 + [1.0] * 9
        assert out["lat"].tolist() == ([35.0] * 3 + [36.0] * 3 + [37.0] * 3) * 2
        assert out["lon"].tolist() == [-120.0, -119.0, -118.0] * 6
        # edge cell on the lon axis: chunk covers only 2 of 3 columns
        edge = plan.evaluate((1, 1, 2))
        assert edge["data"].shape == (2 * 3 * 2,)
        assert edge["lon"].tolist() == [-114.0, -113.0] * 6
        # total rows across all cells == array size
        assert sum(plan.cell_num_rows(c) for c in plan.cells()) == 192

    def test_4d_rejected(self, tmp_path):
        import numpy as np

        from arrow_zarr_spark.zarr import (
            ZarrFormatError,
            infer_store_arrays,
            open_store,
        )
        from arrow_zarr_spark.zarr.table import ChunkPlan
        from arrow_zarr_spark.zarr.writer import write_store

        p = str(tmp_path / "four_d")
        write_store(
            p,
            arrays={"x": np.arange(16.0).reshape(2, 2, 2, 2)},
            chunk_shapes={"x": (2, 2, 2, 2)},
        )
        import pytest as _pytest

        with _pytest.raises(ZarrFormatError, match="1, 2 or 3D"):
            ChunkPlan(infer_store_arrays(open_store(p)))
