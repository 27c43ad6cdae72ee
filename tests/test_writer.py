"""Round-trip tests for the distributed Zarr writer."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from arrow_zarr_spark.io import write_zarr
from arrow_zarr_spark.zarr import ZarrFormatError, infer_store_arrays, open_store


def test_roundtrip_lineitem_subset(spark, sf_dir, tmp_path):
    path = str(tmp_path / "li")
    src = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    n = write_zarr(src, path, chunk_rows=1000)
    assert n == src.count()

    back = spark.read.format("zarr").load(path)
    assert sorted(back.columns) == sorted(src.columns)  # store sorts by name
    assert back.count() == n
    cols = sorted(src.columns)
    a = sorted(map(tuple, src.select(*cols).collect()))
    b = sorted(map(tuple, back.select(*cols).collect()))
    assert a == b


def test_roundtrip_preserves_row_order(spark, tmp_path):
    path = str(tmp_path / "ordered")
    df = spark.range(0, 5000, 1, 8).select(
        F.col("id").cast("long").alias("k"),
        (F.col("id") * 2.5).alias("v"),
    )
    write_zarr(df, path, chunk_rows=700)
    back = spark.read.format("zarr").load(path)
    # global order: partition 0 rows first; spark.range partitions are
    # contiguous id ranges, so the store should hold ids 0..4999 in order
    arrays = {a.meta.name: a for a in infer_store_arrays(open_store(path))}
    ks = arrays["k"].read_all()
    assert ks.tolist() == list(range(5000))
    assert arrays["k"].meta.chunk_shape == (700,)
    assert back.count() == 5000


def test_all_numeric_types(spark, tmp_path):
    path = str(tmp_path / "typed")
    df = spark.range(0, 100).select(
        F.col("id").cast("byte").alias("b"),
        F.col("id").cast("short").alias("s"),
        F.col("id").cast("int").alias("i"),
        F.col("id").cast("long").alias("l"),
        F.col("id").cast("float").alias("f"),
        F.col("id").cast("double").alias("d"),
        (F.col("id") % 2 == 0).alias("bl"),
    )
    write_zarr(df, path, chunk_rows=32)
    back = spark.read.format("zarr").load(path)
    assert dict(back.dtypes) == {
        "b": "tinyint", "s": "smallint", "i": "int", "l": "bigint",
        "f": "float", "d": "double", "bl": "boolean",
    }
    row = back.orderBy("l").collect()[41]
    assert (row.b, row.s, row.i, row.l) == (41, 41, 41, 41)
    assert row.bl is False


def test_mode_error_and_overwrite(spark, tmp_path):
    path = str(tmp_path / "twice")
    df = spark.range(0, 10).select(F.col("id").alias("x"))
    write_zarr(df, path, chunk_rows=4)
    with pytest.raises(ZarrFormatError, match="already exists"):
        write_zarr(df, path, chunk_rows=4)
    write_zarr(
        spark.range(0, 7).select(F.col("id").alias("x")),
        path,
        chunk_rows=4,
        mode="overwrite",
    )
    assert spark.read.format("zarr").load(path).count() == 7


def test_string_roundtrip_vlen(spark, sf_dir, tmp_path):
    """String columns write as vlen-utf8 arrays (the scan's z14 path
    in reverse); unicode, empty strings, and filters all survive."""
    path = str(tmp_path / "strs")
    df = spark.createDataFrame(
        [(1, "a"), (2, ""), (3, "héllo wörld"), (4, "x " * 50)],
        ["i", "t"],
    )
    assert write_zarr(df, path, chunk_rows=3) == 4
    back = spark.read.format("zarr").load(path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    dpath = str(tmp_path / "docs")
    write_zarr(docs, dpath, chunk_rows=128)
    back = spark.read.format("zarr").load(dpath)
    assert back.filter("lang = 'en'").count() == docs.filter(
        "lang = 'en'"
    ).count()


def test_string_with_shards_rejected(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], ["i", "t"])
    with pytest.raises(ZarrFormatError, match="string"):
        write_zarr(df, str(tmp_path / "bad"), chunk_rows=1, shard_chunks=2)


def test_string_nulls_rejected(spark, tmp_path):
    # the ZarrFormatError is raised in an executor task, so it arrives
    # wrapped in Spark's Python exception — match on the message
    df = spark.createDataFrame([(1, "a"), (2, None)], ["i", "t"])
    with pytest.raises(Exception, match="contains NULLs"):
        write_zarr(df, str(tmp_path / "badnull"))


def test_empty_dataframe(spark, tmp_path):
    path = str(tmp_path / "empty")
    df = spark.range(0, 0).select(F.col("id").alias("x"))
    assert write_zarr(df, path) == 0
    arrays = infer_store_arrays(open_store(path))
    assert arrays[0].meta.shape == (0,)


class TestGridWriter:
    def test_latlon_roundtrip(self, spark, tmp_path):
        """Read F1 (broadcast coords), write back as a grid store, and
        the new store must scan identically — broadcast inverse."""
        from arrow_zarr_spark.fixtures import write_lat_lon_store
        from arrow_zarr_spark.io import write_zarr_grid

        src = spark.read.format("zarr").load(write_lat_lon_store())
        out = str(tmp_path / "grid")
        n = write_zarr_grid(
            src, out, dims=["lat", "lon"], chunk_shape=(3, 3)
        )
        assert n == 64
        back = spark.read.format("zarr").load(out)
        a = sorted(map(tuple, src.select("data", "lat", "lon").collect()))
        b = sorted(map(tuple, back.select("data", "lat", "lon").collect()))
        assert a == b

    def test_sparse_grid_fill(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid

        df = spark.createDataFrame(
            [(0.0, 0.0, 1.0), (1.0, 1.0, 2.0)], ["x", "y", "v"]
        )
        out = str(tmp_path / "sparse")
        write_zarr_grid(
            df, out, dims=["x", "y"], chunk_shape=(2, 2), fill_value=-1.0
        )
        back = spark.read.format("zarr").load(out)
        rows = {(r.x, r.y): r.v for r in back.collect()}
        assert rows[(0.0, 0.0)] == 1.0 and rows[(1.0, 1.0)] == 2.0
        assert rows[(0.0, 1.0)] == -1.0  # absent cell -> fill
        assert len(rows) == 4  # full Cartesian grid

    def test_3d_grid(self, spark, tmp_path):
        import itertools

        from arrow_zarr_spark.io import write_zarr_grid

        data = [
            (float(t), float(x), float(y), float(t * 100 + x * 10 + y))
            for t, x, y in itertools.product(range(4), range(3), range(5))
        ]
        df = spark.createDataFrame(data, ["t", "x", "y", "v"])
        out = str(tmp_path / "g3")
        n = write_zarr_grid(
            df, out, dims=["t", "x", "y"], chunk_shape=(2, 2, 2)
        )
        assert n == 60
        back = spark.read.format("zarr").load(out)
        got = {(r.t, r.x, r.y): r.v for r in back.collect()}
        for t, x, y in itertools.product(range(4), range(3), range(5)):
            assert got[(float(t), float(x), float(y))] == t * 100 + x * 10 + y


class TestFormatWriter:
    """df.write.format('zarr') — the DataSource sink."""

    def test_roundtrip_values(self, spark, sf_dir, tmp_path):
        path = str(tmp_path / "fmt")
        src = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_totalprice"
        )
        (
            src.write.format("zarr")
            .mode("append")  # Spark's python-DS write offers append/overwrite
            .option("chunk_rows", "500")
            .save(path)
        )
        back = spark.read.format("zarr").load(path)
        assert back.count() == src.count()
        a = sorted(map(tuple, src.collect()))
        b = sorted(
            map(tuple, back.select("o_orderkey", "o_totalprice").collect())
        )
        assert a == b  # values identical; order not guaranteed
        from arrow_zarr_spark.zarr import infer_store_arrays, open_store

        metas = infer_store_arrays(open_store(path))
        assert all(a.meta.chunk_shape == (500,) for a in metas)
        assert not any(
            k.startswith("__stage__")
            for k in open_store(path).walk_keys()
        )

    def test_mode_error_then_overwrite(self, spark, tmp_path):
        path = str(tmp_path / "fmt2")
        df = spark.range(0, 100).select(F.col("id").alias("x"))
        df.write.format("zarr").mode("append").option(
            "chunk_rows", "32"
        ).save(path)
        # append to an aligned store extends it; misaligned chunk errors
        with pytest.raises(Exception, match="chunk_rows"):
            df.write.format("zarr").mode("append").option(
                "chunk_rows", "99"
            ).save(path)
        spark.range(0, 7).select(F.col("id").alias("x")).write.format(
            "zarr"
        ).mode("overwrite").option("chunk_rows", "32").save(path)
        back = spark.read.format("zarr").load(path)
        assert sorted(r.x for r in back.collect()) == list(range(7))

    def test_small_rows_only_leftovers(self, spark, tmp_path):
        path = str(tmp_path / "fmt3")
        df = spark.range(0, 10, 1, 4).select(F.col("id").alias("x"))
        df.write.format("zarr").mode("append").option(
            "chunk_rows", "100000"
        ).save(path)
        back = spark.read.format("zarr").load(path)
        assert sorted(r.x for r in back.collect()) == list(range(10))


    def test_append_extends_aligned_store(self, spark, tmp_path):
        path = str(tmp_path / "fmt4")
        a = spark.range(0, 64).select(F.col("id").alias("x"))
        a.write.format("zarr").mode("append").option(
            "chunk_rows", "32"
        ).save(path)
        b = spark.range(100, 110).select(F.col("id").alias("x"))
        b.write.format("zarr").mode("append").option(
            "chunk_rows", "32"
        ).save(path)
        back = spark.read.format("zarr").load(path)
        got = sorted(r.x for r in back.collect())
        assert got == list(range(64)) + list(range(100, 110))

    def test_commit_and_abort_list_only_their_staging(
        self, tmp_path, monkeypatch
    ):
        """commit() and abort() find the job's staged keys by listing
        its own staging prefix, never the whole target store — a full
        listing would cost every chunk key of the store per commit."""
        import pyarrow as pa
        from pyspark.sql import types as T

        from arrow_zarr_spark import sinks
        from arrow_zarr_spark.zarr.store import LocalStore

        class CountingStore(LocalStore):
            walks = 0

            def walk_keys(self):
                CountingStore.walks += 1
                return super().walk_keys()

        monkeypatch.setattr(sinks, "open_store", CountingStore)
        path = str(tmp_path / "fmt5")
        schema = T.StructType([T.StructField("x", T.LongType())])

        def task(writer, lo, hi):
            batch = pa.record_batch(
                [pa.array(np.arange(lo, hi, dtype=np.int64))], names=["x"]
            )
            return writer.write(iter([batch]))

        for lo in (0, 100):  # a create, then an append
            w = sinks.ZarrWriter(path, schema, {"chunk_rows": "25"}, False)
            msgs = [task(w, lo, lo + 70), task(w, lo + 70, lo + 100)]
            CountingStore.walks = 0
            w.commit(msgs)
            assert CountingStore.walks == 0
        w = sinks.ZarrWriter(path, schema, {"chunk_rows": "25"}, False)
        msgs = [task(w, 500, 560)]
        CountingStore.walks = 0
        w.abort(msgs)
        assert CountingStore.walks == 0
        store = LocalStore(path)
        assert not any(k.startswith("__stage__") for k in store.walk_keys())
        (arr,) = infer_store_arrays(store)
        assert sorted(arr.read_all().tolist()) == list(range(200))


class TestNullAndLayoutGuards:
    """Regression tests for review findings: silent NULL corruption and
    append-layout clobbering."""

    def test_write_zarr_rejects_nulls_in_int_column(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1,), (None,)], "x long"
        )
        with pytest.raises(Exception, match="NULL"):
            write_zarr(df, str(tmp_path / "n1"), chunk_rows=10)

    def test_format_writer_rejects_nulls(self, spark, tmp_path):
        df = spark.createDataFrame([(1,), (None,)], "x long")
        with pytest.raises(Exception, match="NULL"):
            df.write.format("zarr").mode("append").save(str(tmp_path / "n2"))

    def test_float_nan_is_allowed(self, spark, tmp_path):
        import math

        path = str(tmp_path / "n3")
        df = spark.createDataFrame([(1.5,), (float("nan"),)], "x double")
        write_zarr(df, path, chunk_rows=10)
        vals = [
            r.x for r in spark.read.format("zarr").load(path).collect()
        ]
        assert 1.5 in vals and any(math.isnan(v) for v in vals)

    def test_append_codec_mismatch_rejected(self, spark, tmp_path):
        path = str(tmp_path / "c1")
        df = spark.range(0, 4).select(F.col("id").alias("x"))
        df.write.format("zarr").mode("append").option(
            "chunk_rows", "2"
        ).option("compression", "gzip").save(path)
        with pytest.raises(Exception, match="codec mismatch"):
            df.write.format("zarr").mode("append").option(
                "chunk_rows", "2"
            ).save(path)  # default zstd != existing gzip

    def test_append_dtype_mismatch_rejected(self, spark, tmp_path):
        path = str(tmp_path / "c2")
        spark.range(0, 4).select(F.col("id").alias("x")).write.format(
            "zarr"
        ).mode("append").option("chunk_rows", "2").save(path)
        with pytest.raises(Exception, match="dtype mismatch"):
            spark.range(0, 2).select(
                F.col("id").cast("double").alias("x")
            ).write.format("zarr").mode("append").option(
                "chunk_rows", "2"
            ).save(path)

    def test_overwrite_removes_stale_columns(self, spark, tmp_path):
        path = str(tmp_path / "c3")
        spark.range(0, 4).select(
            F.col("id").alias("a"), (F.col("id") * 2).alias("b")
        ).write.format("zarr").mode("overwrite").save(path)
        spark.range(0, 3).select(F.col("id").alias("a")).write.format(
            "zarr"
        ).mode("overwrite").save(path)
        back = spark.read.format("zarr").load(path)
        assert back.columns == ["a"]
        assert back.count() == 3


class TestWriteZarrAppend:
    """write_zarr(mode='append') — boundary-chunk merge, no alignment
    requirement."""

    def test_append_with_partial_tail(self, spark, tmp_path):
        path = str(tmp_path / "ap1")
        a = spark.range(0, 10).select(F.col("id").alias("x"))
        write_zarr(a, path, chunk_rows=4)  # 10 rows: chunks 4+4+2(partial)
        b = spark.range(100, 107).select(F.col("id").alias("x"))
        n = write_zarr(b, path, chunk_rows=4, mode="append")
        assert n == 7
        back = spark.read.format("zarr").load(path)
        got = [r.x for r in back.orderBy("x").collect()]
        assert got == list(range(10)) + list(range(100, 107))
        # row ORDER preserved in the store (boundary merged in place)
        from arrow_zarr_spark.zarr import infer_store_arrays, open_store

        arr = infer_store_arrays(open_store(path))[0]
        assert arr.read_all().tolist() == list(range(10)) + list(
            range(100, 107)
        )

    def test_append_chunk_mismatch_rejected(self, spark, tmp_path):
        path = str(tmp_path / "ap2")
        df = spark.range(0, 10).select(F.col("id").alias("x"))
        write_zarr(df, path, chunk_rows=4)
        with pytest.raises(ZarrFormatError, match="chunk_rows"):
            write_zarr(df, path, chunk_rows=5, mode="append")


class TestStreamToZarr:
    def test_stream_sink_roundtrip(self, spark, tmp_path):
        from arrow_zarr_spark.streaming import stream_to_zarr

        src = str(tmp_path / "src")
        store = str(tmp_path / "sink_store")
        df = spark.range(0, 500).select(
            F.col("id").alias("event_id"), (F.col("id") % 7).alias("user_id")
        )
        df.write.parquet(src)
        stream = spark.readStream.schema(df.schema).parquet(src)
        q = stream_to_zarr(
            stream,
            store,
            chunk_rows=128,
            checkpointLocation=str(tmp_path / "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        back = spark.read.format("zarr").load(store)
        assert back.count() == 500
        assert back.agg(F.sum("event_id")).first()[0] == sum(range(500))
        # microbatch appends merge per-object stats to full coverage
        from arrow_zarr_spark.zarr.meta import STATS_ATTR_KEY

        metas = {
            a.meta.name: a.meta
            for a in infer_store_arrays(open_store(store))
        }
        s = metas["event_id"].attributes[STATS_ATTR_KEY]
        assert len(s) == -(-500 // 128)
        assert all(e is not None for e in s)


class TestShardedWriter:
    def test_sharded_roundtrip_and_object_count(self, spark, tmp_path):
        path = str(tmp_path / "sharded_w")
        df = spark.range(0, 5000, 1, 8).select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 2.5).alias("v"),
        )
        write_zarr(df, path, chunk_rows=250, shard_chunks=4)
        store = open_store(path)
        arrays = {a.meta.name: a for a in infer_store_arrays(store)}
        # store-object grid = shard grid: ceil(5000 / (250*4)) = 5
        assert arrays["k"].meta.chunk_shape == (1000,)
        objects = [
            key
            for key in store.walk_keys()
            if key.startswith("k/c") or key.startswith("k/c/")
        ]
        assert len(objects) == 5
        # values survive the shard encode/decode round trip, in order
        assert arrays["k"].read_all().tolist() == list(range(5000))
        back = spark.read.format("zarr").load(path)
        assert back.count() == 5000
        assert back.agg(F.sum("v")).first()[0] == sum(
            i * 2.5 for i in range(5000)
        )

    def test_sharded_append(self, spark, tmp_path):
        path = str(tmp_path / "sharded_app")
        first = spark.range(0, 1700, 1, 4).select(
            F.col("id").cast("long").alias("k")
        )
        second = spark.range(1700, 3000, 1, 4).select(
            F.col("id").cast("long").alias("k")
        )
        write_zarr(first, path, chunk_rows=250, shard_chunks=2)
        # boundary shard (rows 1500-1699 already stored) must merge
        write_zarr(
            second, path, chunk_rows=250, shard_chunks=2, mode="append"
        )
        arrays = {a.meta.name: a for a in infer_store_arrays(open_store(path))}
        assert arrays["k"].read_all().tolist() == list(range(3000))

    def test_shard_layout_mismatch_rejected(self, spark, tmp_path):
        path = str(tmp_path / "sharded_mm")
        df = spark.range(0, 1000).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100, shard_chunks=4)
        with pytest.raises(ZarrFormatError, match="codec|object size"):
            write_zarr(df, path, chunk_rows=100, mode="append")

    def test_sharded_filter_pushdown_prunes(self, spark, tmp_path):
        """A sharded sink-written store must still prune on read (the
        shard index gives inner-chunk extents)."""
        path = str(tmp_path / "sharded_prune")
        df = spark.range(0, 4000, 1, 4).select(
            F.col("id").cast("long").alias("k")
        )
        write_zarr(df, path, chunk_rows=100, shard_chunks=5)
        back = spark.read.format("zarr").load(path).filter("k >= 3900")
        assert sorted(r.k for r in back.collect()) == list(range(3900, 4000))


def test_format_sink_string_roundtrip(spark, sf_dir, tmp_path):
    """df.write.format("zarr") with string columns: staged vlen chunks
    + pickled leftovers must survive the two-phase commit."""
    path = str(tmp_path / "sink_strs")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    docs.write.format("zarr").option("chunk_rows", 128).mode(
        "overwrite"
    ).save(path)
    back = spark.read.format("zarr").load(path)
    assert sorted(map(tuple, back.select("doc_id", "text", "lang").collect())) == sorted(
        map(tuple, docs.collect())
    )


class TestPartitionedWriter:
    def test_partitioned_roundtrip(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from arrow_zarr_spark.io import (
            read_zarr_partitioned,
            write_zarr_partitioned,
        )

        df = spark.range(300).select(
            F.col("id").alias("k"),
            (F.col("id") * 2.5).alias("v"),
            F.concat(F.lit("g"), (F.col("id") % 3).cast("string")).alias(
                "grp"
            ),
        )
        out = write_zarr_partitioned(
            df, str(tmp_path / "p"), "grp", chunk_rows=64, mode="overwrite"
        )
        assert sorted(out) == ["g0", "g1", "g2"]
        back = read_zarr_partitioned(spark, str(tmp_path / "p"))
        assert sorted(back.columns) == ["grp", "k", "v"]
        got = {(r.k, r.v, r.grp) for r in back.collect()}
        want = {(r.k, r.v, r.grp) for r in df.collect()}
        assert got == want

    def test_partition_column_not_in_stores(self, spark, tmp_path):
        import os

        from pyspark.sql import functions as F

        from arrow_zarr_spark.io import write_zarr_partitioned

        df = spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("b")
        )
        write_zarr_partitioned(
            df, str(tmp_path / "p"), "b", chunk_rows=8, mode="overwrite"
        )
        arrays = os.listdir(str(tmp_path / "p" / "b=0"))
        assert "k" in arrays and "b" not in arrays

    def test_mixed_partition_keys_rejected(self, spark, tmp_path):
        import os

        import pytest as _pytest

        from arrow_zarr_spark.io import read_zarr_partitioned
        from arrow_zarr_spark.zarr.meta import ZarrFormatError

        os.makedirs(tmp_path / "p" / "a=1")
        os.makedirs(tmp_path / "p" / "b=2")
        with _pytest.raises(ZarrFormatError, match="mixed partition keys"):
            read_zarr_partitioned(spark, str(tmp_path / "p"))


class TestPartitionedWriterGuards:
    def test_null_partition_values_rejected(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from arrow_zarr_spark.io import write_zarr_partitioned

        df = spark.range(10).select(
            F.col("id").alias("k"),
            F.when(F.col("id") < 5, F.lit("a")).alias("g"),
        )
        with pytest.raises(ValueError, match="NULL values"):
            write_zarr_partitioned(df, str(tmp_path / "p"), "g")

    def test_path_metacharacters_rejected(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from arrow_zarr_spark.io import write_zarr_partitioned

        df = spark.range(4).select(
            F.col("id").alias("k"), F.lit("a/b").alias("g")
        )
        with pytest.raises(ValueError, match="metacharacter"):
            write_zarr_partitioned(df, str(tmp_path / "p"), "g")

    def test_overwrite_clears_stale_partitions(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from arrow_zarr_spark.io import (
            read_zarr_partitioned,
            write_zarr_partitioned,
        )

        full = spark.range(20).select(
            F.col("id").alias("k"),
            F.concat(F.lit("g"), (F.col("id") % 2).cast("string")).alias(
                "g"
            ),
        )
        write_zarr_partitioned(
            full, str(tmp_path / "p"), "g", chunk_rows=8, mode="overwrite"
        )
        only_g0 = full.filter(F.col("g") == "g0")
        write_zarr_partitioned(
            only_g0, str(tmp_path / "p"), "g", chunk_rows=8,
            mode="overwrite",
        )
        back = read_zarr_partitioned(spark, str(tmp_path / "p"))
        assert {r.g for r in back.select("g").distinct().collect()} == {
            "g0"
        }

    def test_source_col_collision_rejected(self, spark):
        from arrow_zarr_spark import fixtures, read_zarr_many

        p1 = fixtures.write_lat_lon_store()
        with pytest.raises(ValueError, match="collides"):
            read_zarr_many(spark, [p1], source_col="lat")


class TestRechunk:
    def test_rechunk_compacts_and_preserves_order(self, spark, tmp_path):
        from arrow_zarr_spark.io import rechunk_zarr

        src_path, dst_path = str(tmp_path / "rc_src"), str(tmp_path / "rc_dst")
        df = spark.range(0, 10000, 1, 8).select(
            F.col("id").cast("long").alias("k"),
            (F.col("id") * 1.5).alias("v"),
        )
        write_zarr(df, src_path, chunk_rows=500)
        n = rechunk_zarr(
            spark, src_path, dst_path, chunk_rows=2000, shard_chunks=2
        )
        assert n == 10000

        # target layout: 2000-row inner chunks, 4000-row shard objects
        arrays = {
            a.meta.name: a
            for a in infer_store_arrays(open_store(dst_path))
        }
        assert arrays["k"].meta.chunk_shape == (4000,)
        # row order survives the copy end to end
        assert arrays["k"].read_all().tolist() == list(range(10000))
        assert np.allclose(
            arrays["v"].read_all(), np.arange(10000) * 1.5
        )

        # the object-count lever: 10000/500 = 20 chunk objects per
        # column before, 10000/4000 -> 3 shard objects after
        def n_objects(path, col):
            store = open_store(path)
            return sum(
                1 for key in store.walk_keys()
                if key.startswith(f"{col}/c") and "zarr.json" not in key
            )

        assert n_objects(src_path, "k") == 20
        assert n_objects(dst_path, "k") == 3

    def test_rechunk_projected_copy(self, spark, tmp_path):
        """columns= narrows the copy: unselected arrays never reach
        the target store (the A4 projection contract on the scan)."""
        from arrow_zarr_spark.io import rechunk_zarr

        src_path, dst_path = str(tmp_path / "rp_src"), str(tmp_path / "rp_dst")
        df = spark.range(0, 1000, 1, 4).select(
            F.col("id").alias("a"),
            (F.col("id") * 2).alias("b"),
            (F.col("id") * 3).alias("c"),
        )
        write_zarr(df, src_path, chunk_rows=250)
        rechunk_zarr(
            spark, src_path, dst_path, chunk_rows=1000, columns=["a", "c"]
        )
        names = sorted(
            a.meta.name for a in infer_store_arrays(open_store(dst_path))
        )
        assert names == ["a", "c"]

    def test_rechunk_refuses_existing_target(self, spark, tmp_path):
        from arrow_zarr_spark.io import rechunk_zarr

        src_path, dst_path = str(tmp_path / "re_src"), str(tmp_path / "re_dst")
        df = spark.range(0, 100).select(F.col("id").alias("k"))
        write_zarr(df, src_path, chunk_rows=50)
        write_zarr(df, dst_path, chunk_rows=50)
        with pytest.raises(ZarrFormatError, match="already exists"):
            rechunk_zarr(spark, src_path, dst_path, chunk_rows=100)


class TestAuditZarr:
    def test_clean_store_all_ok(self, spark, tmp_path):
        from arrow_zarr_spark.io import audit_zarr

        path = str(tmp_path / "au1")
        df = spark.range(0, 1000, 1, 4).select(
            F.col("id").alias("k"), (F.col("id") * 0.5).alias("v")
        )
        write_zarr(df, path, chunk_rows=100)
        rep = audit_zarr(spark, path).collect()
        assert len(rep) == 20  # 10 chunks x 2 arrays
        assert all(r.ok and not r.missing and r.error is None for r in rep)
        assert sum(r.rows for r in rep if r.array == "k") == 1000

    def test_corrupted_chunk_flagged(self, spark, tmp_path):
        from arrow_zarr_spark.io import audit_zarr

        path = str(tmp_path / "au2")
        df = spark.range(0, 500, 1, 2).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)
        store = open_store(path)
        key = "k/c/2"
        store.set(key, b"\x00garbage\xff" * 5)
        rep = {r.chunk_key: r for r in audit_zarr(spark, path).collect()}
        bad = rep["c/2"]
        assert not bad.ok and bad.error
        assert all(
            v.ok for ck, v in rep.items() if ck != "c/2"
        )

    def test_missing_chunk_is_ok_and_marked(self, spark, tmp_path):
        from arrow_zarr_spark.io import audit_zarr

        path = str(tmp_path / "au3")
        df = spark.range(0, 300, 1, 1).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)
        open_store(path).delete("k/c/1")
        rep = {r.chunk_key: r for r in audit_zarr(spark, path).collect()}
        assert rep["c/1"].ok and rep["c/1"].missing
        assert rep["c/1"].rows == 0  # stored rows, not fill phantoms
        assert not rep["c/0"].missing and rep["c/0"].rows == 100

    def test_sharded_index_corruption_flagged(self, spark, tmp_path):
        from arrow_zarr_spark.io import audit_zarr

        path = str(tmp_path / "au4")
        df = spark.range(0, 800, 1, 2).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100, shard_chunks=4)
        store = open_store(path)
        raw = bytearray(store.get("k/c/1"))
        raw[-5] ^= 0xFF  # damage the shard index region
        store.set("k/c/1", bytes(raw))
        rep = {r.chunk_key: r for r in audit_zarr(spark, path).collect()}
        assert not rep["c/1"].ok and rep["c/1"].error
        assert rep["c/0"].ok

    def test_columns_filter_and_unknown_rejected(self, spark, tmp_path):
        from arrow_zarr_spark.io import audit_zarr

        path = str(tmp_path / "au5")
        df = spark.range(0, 100).select(
            F.col("id").alias("a"), (F.col("id") * 2).alias("b")
        )
        write_zarr(df, path, chunk_rows=50)
        rep = audit_zarr(spark, path, columns=["a"]).collect()
        assert {r.array for r in rep} == {"a"}
        with pytest.raises(ZarrFormatError, match="no such arrays"):
            audit_zarr(spark, path, columns=["nope"])


class TestV2Writer:
    """zarr_format=2 output: the xarray-ecosystem interchange format."""

    def test_v2_roundtrip_layout_and_values(self, spark, tmp_path):
        import json
        import os

        path = str(tmp_path / "v2rt")
        df = spark.range(0, 2600, 1, 4).select(
            F.col("id").alias("k"), (F.col("id") * 2.5).alias("v")
        )
        n = write_zarr(df, path, chunk_rows=100, zarr_format=2)
        assert n == 2600
        # v2 layout: .zgroup + consolidated .zmetadata, NO zarr.json,
        # dot-separated chunk keys
        names = set(os.listdir(path))
        assert ".zgroup" in names and ".zmetadata" in names
        assert "zarr.json" not in names
        assert os.path.exists(path + "/k/.zarray")
        assert os.path.exists(path + "/k/0")
        zarray = json.load(open(path + "/k/.zarray"))
        assert zarray["zarr_format"] == 2
        assert zarray["dtype"] == "<i8"
        assert zarray["compressor"]["id"] == "zstd"
        back = spark.read.format("zarr").load(path)
        assert back.count() == 2600
        got = sorted(map(tuple, back.collect()))
        want = sorted(map(tuple, df.collect()))
        assert got == want

    def test_v2_consolidated_single_get_planning(self, spark, tmp_path):
        from arrow_zarr_spark.zarr.array import load_consolidated_arrays

        path = str(tmp_path / "v2c")
        df = spark.range(0, 500).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100, zarr_format=2)
        arrays = load_consolidated_arrays(open_store(path))
        assert arrays is not None and [a.meta.name for a in arrays] == ["k"]
        assert arrays[0].meta.key_encoding == "v2"

    def test_v2_append_boundary_merge(self, spark, tmp_path):
        path = str(tmp_path / "v2app")
        df = spark.range(0, 250).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100, zarr_format=2)
        write_zarr(
            spark.range(250, 600).select(F.col("id").alias("k")),
            path,
            chunk_rows=100,
            zarr_format=2,
            mode="append",
        )
        arrays = {a.meta.name: a for a in infer_store_arrays(open_store(path))}
        assert arrays["k"].read_all().tolist() == list(range(600))

    def test_v2_stats_prune_objects(self, spark, tmp_path):
        from pyspark.sql.datasource import EqualTo, GreaterThan

        from arrow_zarr_spark.datasource import ZarrDataSource

        path = str(tmp_path / "v2st")
        df = spark.range(0, 1000, 1, 4).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100, zarr_format=2)
        ds = ZarrDataSource({"path": path})
        reader = ds.reader(ds.schema())
        list(reader.pushFilters([GreaterThan(("k",), 899)]))
        cells = [c for p in reader.partitions() for c in p.cells]
        assert cells == [(9,)]

    def test_v2_datetime_roundtrip(self, spark, sf_dir, tmp_path):
        path = str(tmp_path / "v2dt")
        src = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_id", "ts"
        )
        write_zarr(src, path, chunk_rows=1000, zarr_format=2)
        back = spark.read.format("zarr").load(path)
        a = sorted(map(tuple, src.collect()))
        b = sorted(map(tuple, back.select("event_id", "ts").collect()))
        assert a == b

    def test_v2_rejects_strings_and_sharding(self, spark, tmp_path):
        df = spark.createDataFrame([(1, "x")], ["k", "s"])
        with pytest.raises(ZarrFormatError, match="zarr_format=3"):
            write_zarr(df, str(tmp_path / "v2s"), zarr_format=2)
        num = spark.range(10).select(F.col("id").alias("k"))
        with pytest.raises(ZarrFormatError, match="v3 feature"):
            write_zarr(
                num,
                str(tmp_path / "v2sh"),
                chunk_rows=2,
                shard_chunks=2,
                zarr_format=2,
            )

    def test_v2_v3_append_mismatch_both_ways(self, spark, tmp_path):
        df = spark.range(100).select(F.col("id").alias("k"))
        p2 = str(tmp_path / "isv2")
        write_zarr(df, p2, chunk_rows=50, zarr_format=2)
        with pytest.raises(ZarrFormatError, match="zarr_format mismatch"):
            write_zarr(df, p2, chunk_rows=50, mode="append")
        p3 = str(tmp_path / "isv3")
        write_zarr(df, p3, chunk_rows=50)
        with pytest.raises(ZarrFormatError, match="zarr_format mismatch"):
            write_zarr(df, p3, chunk_rows=50, mode="append", zarr_format=2)


class TestGridAppend:
    """write_zarr_grid(mode='append', append_dim=...) — the xarray
    to_zarr(append_dim) daily-ingestion shape."""

    @staticmethod
    def _grid(spark, t0, t1, nx=6):
        return (
            spark.range(t0, t1)
            .selectExpr("id as t")
            .crossJoin(spark.range(0, nx).selectExpr("id as x"))
            .select(
                "t",
                "x",
                (F.col("t") * 100 + F.col("x")).cast("double").alias("v"),
            )
        )

    def test_unaligned_append_merges_boundary(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "ga1")
        # old t-axis length 10, chunk 4 -> partial boundary chunk
        write_zarr_grid(
            self._grid(spark, 0, 10), path, dims=["t", "x"],
            chunk_shape=(4, 3), mode="overwrite",
        )
        n = write_zarr_grid(
            self._grid(spark, 10, 17), path, dims=["t", "x"],
            chunk_shape=(4, 3), mode="append", append_dim="t",
        )
        assert n == 7 * 6
        back = spark.read.format("zarr").load(path)
        assert back.count() == 17 * 6
        assert (
            back.filter(
                F.col("v") != F.col("t") * 100 + F.col("x")
            ).count()
            == 0
        )

    def test_aligned_append_leaves_old_objects_untouched(
        self, spark, tmp_path
    ):
        import os

        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "ga2")
        write_zarr_grid(
            self._grid(spark, 0, 8), path, dims=["t", "x"],
            chunk_shape=(4, 3), mode="overwrite",
        )
        def chunk_files():
            out = {}
            for root, _dirs, files in os.walk(path + "/v"):
                for f in files:
                    if f != "zarr.json":
                        p = os.path.join(root, f)
                        out[p] = os.path.getmtime(p)
            return out

        before = chunk_files()
        assert before  # old chunk objects exist
        write_zarr_grid(
            self._grid(spark, 8, 12), path, dims=["t", "x"],
            chunk_shape=(4, 3), mode="append", append_dim="t",
        )
        after = chunk_files()
        for p, mt in before.items():
            assert after[p] == mt  # aligned append rewrites nothing old
        back = spark.read.format("zarr").load(path)
        assert back.count() == 12 * 6

    def test_sparse_append_fills_absent_cells(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "ga3")
        write_zarr_grid(
            self._grid(spark, 0, 4), path, dims=["t", "x"],
            chunk_shape=(4, 3), mode="overwrite", fill_value=-1.0,
        )
        # new slice covers only x < 3 — the (t=4..7, x=3..5) cell has
        # no rows and must materialize the fill
        sparse = self._grid(spark, 4, 8).filter(F.col("x") < 3)
        write_zarr_grid(
            sparse, path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="append", append_dim="t", fill_value=-1.0,
        )
        back = spark.read.format("zarr").load(path)
        assert back.count() == 8 * 6
        assert (
            back.filter((F.col("t") >= 4) & (F.col("x") >= 3))
            .filter(F.col("v") != -1.0)
            .count()
            == 0
        )

    def test_untouched_boundary_cell_stats_union_fill(
        self, spark, tmp_path
    ):
        """A partial boundary cell that receives NO new rows keeps its
        old object; its stats must widen to include the fill the
        extension materializes."""
        from arrow_zarr_spark.io import STATS_ATTR_KEY, write_zarr_grid
        from arrow_zarr_spark.zarr import infer_store_arrays, open_store

        path = str(tmp_path / "ga4")
        # values all >= 100 so the fill 0.0 is outside the old bounds
        base = self._grid(spark, 0, 3).withColumn(
            "v", F.col("v") + 100.0
        )
        write_zarr_grid(
            base, path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="overwrite",
        )
        # append rows touch only x<3: boundary cells with x-chunk 1
        # (x=3..5) stay untouched
        newrows = (
            self._grid(spark, 3, 4)
            .filter(F.col("x") < 3)
            .withColumn("v", F.col("v") + 100.0)
        )
        write_zarr_grid(
            newrows, path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="append", append_dim="t",
        )
        arrays = {
            a.meta.name: a for a in infer_store_arrays(open_store(path))
        }
        st = arrays["v"].meta.attributes[STATS_ATTR_KEY]
        # grid is 1x2 cells; cell (0,1) = x 3..5, untouched boundary
        assert st[1][0] == 0.0  # fill joined the lower bound
        assert st[1][1] >= 305.0
        # and the scan still answers exactly
        back = spark.read.format("zarr").load(path)
        assert back.filter(F.col("v") == 0.0).count() == 3  # t=3,x>=3

    def test_append_validation_errors(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid
        from arrow_zarr_spark.zarr import ZarrFormatError

        path = str(tmp_path / "ga5")
        write_zarr_grid(
            self._grid(spark, 0, 8), path, dims=["t", "x"],
            chunk_shape=(4, 3), mode="overwrite",
        )
        with pytest.raises(ZarrFormatError, match="must extend"):
            write_zarr_grid(
                self._grid(spark, 4, 10), path, dims=["t", "x"],
                chunk_shape=(4, 3), mode="append", append_dim="t",
            )
        with pytest.raises(ZarrFormatError, match="not on the existing"):
            write_zarr_grid(
                self._grid(spark, 8, 9, nx=7), path, dims=["t", "x"],
                chunk_shape=(4, 3), mode="append", append_dim="t",
            )
        with pytest.raises(ZarrFormatError, match="chunk"):
            write_zarr_grid(
                self._grid(spark, 8, 9), path, dims=["t", "x"],
                chunk_shape=(5, 3), mode="append", append_dim="t",
            )
        with pytest.raises(ZarrFormatError, match="append_dim"):
            write_zarr_grid(
                self._grid(spark, 8, 9), path, dims=["t", "x"],
                chunk_shape=(4, 3), mode="append",
            )
        with pytest.raises(ZarrFormatError, match="target missing"):
            write_zarr_grid(
                self._grid(spark, 0, 2), str(tmp_path / "absent"),
                dims=["t", "x"], chunk_shape=(4, 3), mode="append",
                append_dim="t",
            )

    def test_append_then_static_pruning(self, spark, tmp_path):
        """Predicates on the appended region prune to its cells only
        (stats remap + coordinate pruning both survive the append)."""
        from pyspark.sql.datasource import GreaterThan

        from arrow_zarr_spark.datasource import ZarrDataSource
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "ga6")
        write_zarr_grid(
            self._grid(spark, 0, 8), path, dims=["t", "x"],
            chunk_shape=(4, 6), mode="overwrite",
        )
        write_zarr_grid(
            self._grid(spark, 8, 16), path, dims=["t", "x"],
            chunk_shape=(4, 6), mode="append", append_dim="t",
        )
        ds = ZarrDataSource({"path": path})
        reader = ds.reader(ds.schema())
        list(reader.pushFilters([GreaterThan(("v",), 1199.0)]))
        cells = [c for p in reader.partitions() for c in p.cells]
        assert cells == [(3, 0)]  # only the t=12..15 cell survives


class TestReviewRound6Fixes:
    """Regression pins for the round-6 code-review findings."""

    def test_grid_append_rejects_compression_mismatch(
        self, spark, tmp_path
    ):
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "rf1")
        g = TestGridAppend._grid(spark, 0, 4)
        write_zarr_grid(
            g, path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="overwrite", compression="gzip",
        )
        with pytest.raises(ZarrFormatError, match="codec mismatch"):
            write_zarr_grid(
                TestGridAppend._grid(spark, 4, 8), path,
                dims=["t", "x"], chunk_shape=(4, 3), mode="append",
                append_dim="t",  # default zstd != store's gzip
            )

    def test_grid_append_rejects_fill_mismatch(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "rf2")
        write_zarr_grid(
            TestGridAppend._grid(spark, 0, 4), path, dims=["t", "x"],
            chunk_shape=(4, 3), mode="overwrite", fill_value=-1.0,
        )
        with pytest.raises(ZarrFormatError, match="fill_value mismatch"):
            write_zarr_grid(
                TestGridAppend._grid(spark, 4, 8), path,
                dims=["t", "x"], chunk_shape=(4, 3), mode="append",
                append_dim="t",  # default fill 0 != store's -1.0
            )

    def test_grid_writer_sees_v2_store_at_target(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "rf3")
        df = spark.range(100).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=50, zarr_format=2)
        g = TestGridAppend._grid(spark, 0, 4)
        with pytest.raises(ZarrFormatError, match="already exists"):
            write_zarr_grid(
                g, path, dims=["t", "x"], chunk_shape=(4, 3)
            )
        with pytest.raises(ZarrFormatError, match="v2"):
            write_zarr_grid(
                g, path, dims=["t", "x"], chunk_shape=(4, 3),
                mode="append", append_dim="t",
            )
        # overwrite must CLEAR the v2 store, not mix into it
        import os

        write_zarr_grid(
            g, path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="overwrite",
        )
        names = set(os.listdir(path))
        assert ".zgroup" not in names and ".zmetadata" not in names
        # the old v2 array's KEYS are gone (LocalStore leaves empty
        # dirs behind; readers walk keys, so an empty dir is inert)
        k_files = [
            f for _r, _d, fs in os.walk(path + "/k") for f in fs
        ]
        assert k_files == []
        back = spark.read.format("zarr").load(path)
        assert sorted(back.columns) == ["t", "v", "x"]

    def test_v2_arrays_carry_xarray_dimensions(self, spark, tmp_path):
        import json

        path = str(tmp_path / "rf4")
        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
        write_zarr(df, path, chunk_rows=50, zarr_format=2)
        for col in ("k", "v"):
            attrs = json.load(open(f"{path}/{col}/.zattrs"))
            assert attrs["_ARRAY_DIMENSIONS"] == ["row"]
        # collision with a column named "row" picks a fresh dim name
        path2 = str(tmp_path / "rf4b")
        df2 = spark.range(100).select(F.col("id").alias("row"))
        write_zarr(df2, path2, chunk_rows=50, zarr_format=2)
        attrs = json.load(open(f"{path2}/row/.zattrs"))
        assert attrs["_ARRAY_DIMENSIONS"] == ["_row"]
        # and the scan still reads both back as plain table columns
        assert spark.read.format("zarr").load(path).count() == 100
        assert spark.read.format("zarr").load(path2).count() == 100


class TestGridAppendStatsSoundness:
    """Randomized soundness law for the append-time stats remap: after
    any chain of (sparse, unaligned) appends, every cell's recorded
    [lo, hi] either is unknown or brackets every value the scan
    materializes from that cell — fill rows included. (The pruning
    soundness law in test_property.py assumes sound bounds; this pins
    that the append path actually produces them.)"""

    def test_randomized_appends_keep_stats_sound(self, spark, tmp_path):
        import math

        from arrow_zarr_spark.io import STATS_ATTR_KEY, write_zarr_grid

        rng = np.random.RandomState(1234)
        for trial in range(4):
            path = str(tmp_path / f"snd{trial}")
            nx = int(rng.randint(2, 6))
            cs = (int(rng.randint(2, 5)), int(rng.randint(2, 4)))
            t_base = int(rng.randint(3, 9))

            def rows_for(t0, t1, keep=0.7):
                out = []
                for t in range(t0, t1):
                    for x in range(nx):
                        # x-axis fully covered on the first slice (so
                        # appends never add axis values); x == 0 kept
                        # on EVERY t so no append slice draws zero
                        # rows (an empty slice would grow the axis by
                        # less than n_new and break the length math
                        # for reasons unrelated to the stats law)
                        if t == 0 or x == 0 or rng.rand() < keep:
                            out.append(
                                (
                                    float(t),
                                    float(x),
                                    float(rng.randint(-50, 50)),
                                )
                            )
                return out

            df = spark.createDataFrame(
                rows_for(0, t_base), ["t", "x", "v"]
            )
            write_zarr_grid(
                df, path, dims=["t", "x"], chunk_shape=cs,
                mode="overwrite",
            )
            t_len = t_base
            for _ in range(2):  # two appends: remap-of-remap
                n_new = int(rng.randint(1, 6))
                adf = spark.createDataFrame(
                    rows_for(t_len, t_len + n_new), ["t", "x", "v"]
                )
                write_zarr_grid(
                    adf, path, dims=["t", "x"], chunk_shape=cs,
                    mode="append", append_dim="t",
                )
                t_len += n_new

            back = spark.read.format("zarr").load(path).collect()
            vals = {(int(r.t), int(r.x)): r.v for r in back}
            assert len(vals) == t_len * nx
            arrays = {
                a.meta.name: a
                for a in infer_store_arrays(open_store(path))
            }
            st = arrays["v"].meta.attributes[STATS_ATTR_KEY]
            g = (math.ceil(t_len / cs[0]), math.ceil(nx / cs[1]))
            assert len(st) == g[0] * g[1]
            for ci in range(g[0]):
                for cj in range(g[1]):
                    bounds = st[ci * g[1] + cj]
                    cell_vals = [
                        v
                        for (t, x), v in vals.items()
                        if ci * cs[0] <= t < (ci + 1) * cs[0]
                        and cj * cs[1] <= x < (cj + 1) * cs[1]
                    ]
                    assert cell_vals
                    if bounds is None:
                        continue
                    lo, hi = bounds
                    assert lo <= min(cell_vals), (trial, ci, cj, bounds)
                    assert max(cell_vals) <= hi, (trial, ci, cj, bounds)

    def test_randomized_region_and_add_keep_stats_sound(
        self, spark, tmp_path
    ):
        """Same law over the other two stats producers: after a
        random region UPDATE and a random-subset ADD COLUMN, every
        recorded [lo, hi] (either column) is unknown or brackets what
        the scan materializes — fill cells of the new column
        included."""
        import math

        from arrow_zarr_spark.io import (
            STATS_ATTR_KEY,
            add_zarr_arrays,
            write_zarr_grid,
            write_zarr_region,
        )

        rng = np.random.RandomState(77)
        for trial in range(3):
            path = str(tmp_path / f"snd_ra{trial}")
            nt, nx = int(rng.randint(4, 10)), int(rng.randint(2, 6))
            cs = (int(rng.randint(2, 5)), int(rng.randint(2, 4)))
            base = [
                (float(t), float(x), float(rng.randint(-50, 50)))
                for t in range(nt)
                for x in range(nx)
            ]
            write_zarr_grid(
                spark.createDataFrame(base, ["t", "x", "v"]),
                path, dims=["t", "x"], chunk_shape=cs, mode="overwrite",
            )
            upd = [
                (t, x, float(rng.randint(-500, 500)))
                for (t, x, _) in base
                if rng.rand() < 0.3
            ]
            if upd:
                write_zarr_region(
                    spark.createDataFrame(upd, ["t", "x", "v"]),
                    path, dims=["t", "x"],
                    stats=bool(rng.randint(0, 2)),
                )
            sub = [
                (t, x, float(rng.randint(-9, 9)))
                for (t, x, _) in base
                if rng.rand() < 0.5
            ]
            if sub:
                add_zarr_arrays(
                    spark.createDataFrame(sub, ["t", "x", "q"]),
                    path, dims=["t", "x"],
                    fill_value=float(rng.randint(-3, 3)),
                )

            back = spark.read.format("zarr").load(path).collect()
            arrays = {
                a.meta.name: a
                for a in infer_store_arrays(open_store(path))
            }
            g = (math.ceil(nt / cs[0]), math.ceil(nx / cs[1]))
            for col in ["v"] + (["q"] if sub else []):
                vals = {(int(r.t), int(r.x)): r[col] for r in back}
                st = arrays[col].meta.attributes[STATS_ATTR_KEY]
                assert len(st) == g[0] * g[1]
                for ci in range(g[0]):
                    for cj in range(g[1]):
                        bounds = st[ci * g[1] + cj]
                        if bounds is None:
                            continue
                        cell_vals = [
                            v
                            for (t, x), v in vals.items()
                            if ci * cs[0] <= t < (ci + 1) * cs[0]
                            and cj * cs[1] <= x < (cj + 1) * cs[1]
                        ]
                        lo, hi = bounds
                        assert lo <= min(cell_vals), (trial, col, ci, cj)
                        assert max(cell_vals) <= hi, (trial, col, ci, cj)


class TestDescribeZarr:
    def test_table_store(self, spark, tmp_path):
        from arrow_zarr_spark.io import describe_zarr

        path = str(tmp_path / "dz1")
        df = spark.range(0, 1000, 1, 4).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
        write_zarr(df, path, chunk_rows=100)
        info = describe_zarr(path)
        assert info["zarr_format"] == 3 and info["consolidated"]
        assert info["n_rows"] == 1000
        assert info["total_objects"] == 20
        assert info["columns"]["k"]["n_objects"] == 10
        assert info["columns"]["k"]["stats_coverage"] == 1.0

    def test_grid_store_rows_are_cartesian(self, spark, tmp_path):
        from arrow_zarr_spark.io import describe_zarr, write_zarr_grid

        path = str(tmp_path / "dz2")
        df = spark.createDataFrame(
            [
                (float(t), float(x), float(t * 10 + x))
                for t in range(6)
                for x in range(4)
            ],
            ["t", "x", "v"],
        )
        write_zarr_grid(df, path, dims=["t", "x"], chunk_shape=(2, 2))
        info = describe_zarr(path)
        assert info["n_rows"] == 24  # Cartesian product, not 1-D length
        assert info["columns"]["v"]["dimension_names"] == ("t", "x")

    def test_v2_store(self, spark, tmp_path):
        from arrow_zarr_spark.io import describe_zarr

        path = str(tmp_path / "dz3")
        df = spark.range(0, 500).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100, zarr_format=2)
        info = describe_zarr(path)
        assert info["zarr_format"] == 2 and info["consolidated"]
        assert info["n_rows"] == 500

    def test_stats_kind_and_sidecar_coverage(
        self, spark, tmp_path, monkeypatch
    ):
        """r11: describe distinguishes inline / sidecar / absent stats
        (stats_kind), and stats_blocks=True walks the sidecar for
        exact coverage — the ops tool no longer reports None for
        exactly the big stores refresh_stats now retrofits."""
        import arrow_zarr_spark.io as io_mod
        from arrow_zarr_spark.io import describe_zarr

        path = str(tmp_path / "dz4")
        df = spark.range(0, 800, 1, 4).select(F.col("id").alias("k"))
        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
        write_zarr(df, path, chunk_rows=100)  # 8 objects -> sidecar
        info = describe_zarr(path)
        assert info["columns"]["k"]["stats_kind"] == "sidecar"
        assert info["columns"]["k"]["stats_coverage"] is None  # opt-in
        deep = describe_zarr(path, stats_blocks=True)
        assert deep["columns"]["k"]["stats_kind"] == "sidecar"
        assert deep["columns"]["k"]["stats_coverage"] == 1.0

        bare = str(tmp_path / "dz5")
        write_zarr(df, bare, chunk_rows=100, stats=False)
        info = describe_zarr(bare, stats_blocks=True)
        assert info["columns"]["k"]["stats_kind"] is None
        assert info["columns"]["k"]["stats_coverage"] is None

        inline = str(tmp_path / "dz6")
        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 65536)
        write_zarr(df, inline, chunk_rows=100)
        info = describe_zarr(inline)
        assert info["columns"]["k"]["stats_kind"] == "inline"
        assert info["columns"]["k"]["stats_coverage"] == 1.0

    def test_sidecar_coverage_counts_unknown_slots(
        self, spark, tmp_path, monkeypatch
    ):
        """An append past the inline cap leaves the old region's
        uncovered slots as None (unknown, never wrong) — the deep
        describe must count them as NOT covered."""
        import json

        import arrow_zarr_spark.io as io_mod
        from arrow_zarr_spark.io import describe_zarr
        from arrow_zarr_spark.zarr.stats import block_key

        path = str(tmp_path / "dz7")
        df = spark.range(0, 800, 1, 4).select(F.col("id").alias("k"))
        monkeypatch.setattr(io_mod, "STATS_MAX_OBJECTS", 4)
        write_zarr(df, path, chunk_rows=100)
        store = open_store(path)
        # poison one sidecar slot to unknown, like an append's
        # old-region default does
        raw = json.loads(store.get(block_key("k", 0)))
        raw[2] = None
        store.set(block_key("k", 0), json.dumps(raw).encode())
        deep = describe_zarr(path, stats_blocks=True)
        assert deep["columns"]["k"]["stats_coverage"] == round(7 / 8, 4)


class TestGridRegionWrite:
    """write_zarr_region — in-place updates of existing grid points."""

    @staticmethod
    def _grid(spark, t0=0, t1=12, nx=6):
        return (
            spark.range(t0, t1)
            .selectExpr("id as t")
            .crossJoin(spark.range(0, nx).selectExpr("id as x"))
            .select(
                "t",
                "x",
                (F.col("t") * 100 + F.col("x")).cast("double").alias("v"),
                (F.col("t") + F.col("x")).cast("double").alias("w"),
            )
        )

    def test_updates_land_untouched_stay(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid, write_zarr_region

        path = str(tmp_path / "rg1")
        write_zarr_grid(
            self._grid(spark), path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="overwrite",
        )
        upd = (
            self._grid(spark, 3, 5)
            .filter(F.col("x") % 2 == 0)
            .select("t", "x", (-F.col("v")).alias("v"))
        )
        assert write_zarr_region(upd, path, dims=["t", "x"]) == 6
        back = spark.read.format("zarr").load(path)
        assert back.count() == 72
        expected_v = F.when(
            (F.col("t").between(3, 4)) & (F.col("x") % 2 == 0),
            -(F.col("t") * 100 + F.col("x")),
        ).otherwise(F.col("t") * 100 + F.col("x"))
        assert back.filter(F.col("v") != expected_v).count() == 0
        # the column NOT in the update frame is byte-identical
        assert back.filter(F.col("w") != F.col("t") + F.col("x")).count() == 0

    def test_stats_recompute_on_touched_cells(self, spark, tmp_path):
        from arrow_zarr_spark.io import (
            STATS_ATTR_KEY,
            write_zarr_grid,
            write_zarr_region,
        )

        path = str(tmp_path / "rg2")
        write_zarr_grid(
            self._grid(spark), path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="overwrite",
        )
        upd = self._grid(spark, 0, 1).select(
            "t", "x", F.lit(-999.0).alias("v")
        )
        write_zarr_region(upd, path, dims=["t", "x"])
        arrays = {
            a.meta.name: a for a in infer_store_arrays(open_store(path))
        }
        st = arrays["v"].meta.attributes[STATS_ATTR_KEY]
        assert st[0][0] == -999.0  # touched cell recomputed
        assert st[2][0] >= 0  # untouched cell keeps its entry
        # and static pruning can now find the planted outlier cheaply
        from pyspark.sql.datasource import LessThan

        from arrow_zarr_spark.datasource import ZarrDataSource

        ds = ZarrDataSource({"path": path})
        reader = ds.reader(ds.schema())
        list(reader.pushFilters([LessThan(("v",), -500.0)]))
        cells = [c for p in reader.partitions() for c in p.cells]
        assert cells == [(0, 0), (0, 1)]

    def test_stats_false_nulls_touched_cells(self, spark, tmp_path):
        """With stats=False the touched cells' OLD bounds must not
        survive — new values under stale bounds would let stats
        pruning silently drop the updated rows."""
        from pyspark.sql.datasource import LessThan

        from arrow_zarr_spark.datasource import ZarrDataSource
        from arrow_zarr_spark.io import (
            STATS_ATTR_KEY,
            write_zarr_grid,
            write_zarr_region,
        )

        path = str(tmp_path / "rg4")
        write_zarr_grid(
            self._grid(spark), path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="overwrite",
        )
        upd = self._grid(spark, 0, 1).select(
            "t", "x", F.lit(-999.0).alias("v")
        )
        write_zarr_region(upd, path, dims=["t", "x"], stats=False)
        arrays = {
            a.meta.name: a for a in infer_store_arrays(open_store(path))
        }
        st = arrays["v"].meta.attributes[STATS_ATTR_KEY]
        assert st[0] is None and st[1] is None  # touched -> unknown
        assert st[2] is not None  # untouched keeps its bounds
        # unknown = unprunable: the outlier scan must visit the
        # touched cells and return the updated rows
        ds = ZarrDataSource({"path": path})
        reader = ds.reader(ds.schema())
        list(reader.pushFilters([LessThan(("v",), -500.0)]))
        cells = [c for p in reader.partitions() for c in p.cells]
        assert (0, 0) in cells and (0, 1) in cells
        back = spark.read.format("zarr").load(path)
        assert back.filter(F.col("v") < -500.0).count() == 6

    def test_inconsistent_axis_lengths_rejected(self, spark, tmp_path):
        """A store whose coordinate array is longer than the data
        shape would mis-address cells; the grid-append cross-check
        applies here too."""
        import json as _json

        from arrow_zarr_spark.io import write_zarr_grid, write_zarr_region
        from arrow_zarr_spark.zarr.writer import consolidate_metadata

        path = str(tmp_path / "rg5")
        write_zarr_grid(
            self._grid(spark), path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="overwrite",
        )
        st = open_store(path)
        doc = _json.loads(st.get("t/zarr.json"))
        doc["shape"] = [13]  # axis grows, data arrays do not
        st.set("t/zarr.json", _json.dumps(doc).encode())
        consolidate_metadata(st)
        with pytest.raises(ZarrFormatError, match="inconsistent"):
            write_zarr_region(
                self._grid(spark, 0, 1).select("t", "x", "v"),
                path, dims=["t", "x"],
            )

    def test_validation_errors(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid, write_zarr_region

        path = str(tmp_path / "rg3")
        write_zarr_grid(
            self._grid(spark), path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="overwrite",
        )
        with pytest.raises(ZarrFormatError, match="not on the store"):
            write_zarr_region(
                self._grid(spark, 12, 13).select("t", "x", "v"),
                path, dims=["t", "x"],
            )
        with pytest.raises(ZarrFormatError, match="not in the store"):
            write_zarr_region(
                self._grid(spark, 0, 1).select(
                    "t", "x", F.col("v").alias("nosuch")
                ),
                path, dims=["t", "x"],
            )
        upd = self._grid(spark, 0, 1).select("t", "x", "v")
        with pytest.raises(Exception, match="duplicate grid points"):
            write_zarr_region(
                upd.unionAll(upd.limit(1)), path, dims=["t", "x"]
            )
        with pytest.raises(ZarrFormatError, match="target missing"):
            write_zarr_region(
                upd, str(tmp_path / "absent"), dims=["t", "x"]
            )


class TestVacuumZarr:
    def test_finds_and_deletes_orphans(self, spark, tmp_path):
        import os

        from arrow_zarr_spark.io import vacuum_zarr

        path = str(tmp_path / "vac1")
        df = spark.range(0, 400, 1, 2).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)
        # plant debris: staging leftovers, an out-of-grid chunk (a
        # crashed append's tail), a stray file, an undeclared array dir
        st = open_store(path)
        st.set("__stage__/part-0001", b"x")
        st.set("k/c/99", b"x")  # grid is 4 chunks: c/0..c/3
        st.set("junk.txt", b"x")
        st.set("ghost/c/0", b"x")
        rep = vacuum_zarr(path)  # dry run
        assert rep["deleted"] is False
        assert set(rep["orphans"]) == {
            "__stage__/part-0001", "k/c/99", "junk.txt", "ghost/c/0"
        }
        assert os.path.exists(path + "/junk.txt")  # dry run left it
        rep = vacuum_zarr(path, dry_run=False)
        assert rep["deleted"] is True
        assert not os.path.exists(path + "/junk.txt")
        assert not os.path.exists(path + "/k/c/99")
        # store still scans exactly
        assert spark.read.format("zarr").load(path).count() == 400
        assert vacuum_zarr(path)["orphans"] == []

    def test_stale_consolidated_metadata_not_trusted(self, spark, tmp_path):
        """Reachability must come from the authoritative per-array
        walk: a variable added WITHOUT re-consolidating (legal per the
        Zarr spec) would read as an orphan through the stale cache,
        and dry_run=False would delete live data."""
        import numpy as np

        from arrow_zarr_spark.io import vacuum_zarr
        from arrow_zarr_spark.zarr.writer import (
            build_array_meta,
            write_array_data,
        )

        path = str(tmp_path / "vac5")
        df = spark.range(0, 200).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100)  # consolidates
        st = open_store(path)
        # external tool adds an array, does NOT re-consolidate
        meta = build_array_meta(
            "late", shape=(200,), chunk_shape=(100,), dtype=np.float64,
            dimension_names=("dim0",),
        )
        import json as _json

        st.set("late/zarr.json", _json.dumps(meta.to_json()).encode())
        write_array_data(st, meta, np.arange(200, dtype=np.float64))
        rep = vacuum_zarr(path, dry_run=False)
        assert rep["orphans"] == []  # nothing deleted
        # the new array's metadata AND data survived the GC intact
        # (readers honoring the stale cache won't SEE it until a
        # re-consolidation — that is the cache's documented contract —
        # but a GC must never destroy it)
        from arrow_zarr_spark.zarr.array import open_array

        late = open_array(open_store(path), "late")
        assert late.read_all().tolist() == list(range(200))
        assert spark.read.format("zarr").load(path).count() == 200

    def test_v2_store_keys_are_reachable(self, spark, tmp_path):
        from arrow_zarr_spark.io import vacuum_zarr

        path = str(tmp_path / "vac2")
        df = spark.range(0, 250).select(F.col("id").alias("k"))
        write_zarr(df, path, chunk_rows=100, zarr_format=2)
        assert vacuum_zarr(path)["orphans"] == []  # v2 keys all known

    def test_sharded_and_grid_stores_clean(self, spark, tmp_path):
        from arrow_zarr_spark.io import vacuum_zarr, write_zarr_grid

        p1 = str(tmp_path / "vac3")
        write_zarr(
            spark.range(0, 2000).select(F.col("id").alias("k")),
            p1, chunk_rows=100, shard_chunks=5,
        )
        assert vacuum_zarr(p1)["orphans"] == []
        p2 = str(tmp_path / "vac4")
        g = (
            spark.range(0, 6).selectExpr("id as t")
            .crossJoin(spark.range(0, 4).selectExpr("id as x"))
            .select("t", "x", (F.col("t") * 10.0).alias("v"))
        )
        write_zarr_grid(g, p2, dims=["t", "x"], chunk_shape=(2, 2))
        assert vacuum_zarr(p2)["orphans"] == []


class TestAddDropArray:
    """add_zarr_arrays / drop_zarr_array — the grid ALTER surface."""

    @staticmethod
    def _grid(spark, nt=12, nx=6):
        return (
            spark.range(0, nt)
            .selectExpr("id as t")
            .crossJoin(spark.range(0, nx).selectExpr("id as x"))
            .select(
                "t",
                "x",
                (F.col("t") * 100 + F.col("x")).cast("double").alias("v"),
            )
        )

    def test_add_column_roundtrip_with_fill(self, spark, tmp_path):
        from arrow_zarr_spark.io import (
            STATS_ATTR_KEY,
            add_zarr_arrays,
            write_zarr_grid,
        )

        path = str(tmp_path / "alter1")
        write_zarr_grid(
            self._grid(spark), path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="overwrite",
        )
        # subset input: only t < 4 — the rest must read as the fill
        newcol = (
            self._grid(spark)
            .filter(F.col("t") < 4)
            .select("t", "x", (F.col("t") + F.col("x")).alias("q"))
        )
        assert (
            add_zarr_arrays(
                newcol, path, dims=["t", "x"], fill_value=-1
            )
            == 24
        )
        back = spark.read.format("zarr").load(path)
        assert set(back.columns) == {"t", "x", "v", "q"}
        assert back.count() == 72
        expected_q = F.when(
            F.col("t") < 4, F.col("t") + F.col("x")
        ).otherwise(F.lit(-1))
        assert back.filter(F.col("q") != expected_q).count() == 0
        # old column untouched
        assert back.filter(
            F.col("v") != F.col("t") * 100 + F.col("x")
        ).count() == 0
        # stats cover every cell: provided cells computed, absent
        # cells fill-pair — and chunk layout matches the donor
        arrays = {
            a.meta.name: a for a in infer_store_arrays(open_store(path))
        }
        q_meta = arrays["q"].meta
        assert tuple(q_meta.chunk_shape) == (4, 3)
        st = q_meta.attributes[STATS_ATTR_KEY]
        assert len(st) == 6 and st[2] == [-1, -1]  # untouched cell
        assert st[0][0] == 0  # provided cell bounds computed

    def test_add_column_validation(self, spark, tmp_path):
        from arrow_zarr_spark.io import add_zarr_arrays, write_zarr_grid

        path = str(tmp_path / "alter2")
        write_zarr_grid(
            self._grid(spark), path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="overwrite",
        )
        with pytest.raises(ZarrFormatError, match="already exists"):
            add_zarr_arrays(
                self._grid(spark), path, dims=["t", "x"]
            )
        with pytest.raises(ZarrFormatError, match="not on the store"):
            add_zarr_arrays(
                self._grid(spark, nt=13).select(
                    "t", "x", F.col("v").alias("q")
                ),
                path, dims=["t", "x"],
            )

    def test_drop_column(self, spark, tmp_path):
        from arrow_zarr_spark.io import (
            add_zarr_arrays,
            drop_zarr_array,
            vacuum_zarr,
            write_zarr_grid,
        )

        path = str(tmp_path / "alter3")
        write_zarr_grid(
            self._grid(spark), path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="overwrite",
        )
        add_zarr_arrays(
            self._grid(spark).select("t", "x", F.col("v").alias("q")),
            path, dims=["t", "x"],
        )
        n = drop_zarr_array(path, "q")
        assert n >= 7  # zarr.json + 6 chunk objects
        back = spark.read.format("zarr").load(path)
        assert set(back.columns) == {"t", "x", "v"}
        assert back.count() == 72
        assert vacuum_zarr(path)["orphans"] == []  # clean delete
        with pytest.raises(ZarrFormatError, match="no array"):
            drop_zarr_array(path, "q")
        # coordinates are protected while referenced
        with pytest.raises(ZarrFormatError, match="dimension of"):
            drop_zarr_array(path, "t")


class TestAlterCrashAndStaleness:
    @staticmethod
    def _grid(spark):
        return (
            spark.range(0, 8)
            .selectExpr("id as t")
            .crossJoin(spark.range(0, 6).selectExpr("id as x"))
            .select(
                "t", "x",
                (F.col("t") * 100 + F.col("x")).cast("double").alias("v"),
            )
        )

    def test_stranded_chunks_from_crashed_add_are_purged(
        self, spark, tmp_path
    ):
        """A crashed add leaves chunk objects with no metadata; a
        retry must NOT adopt them — published stats would claim pure
        fill where the stranded values sit, and pruning would then
        contradict the scan."""
        from arrow_zarr_spark.io import add_zarr_arrays, write_zarr_grid
        from arrow_zarr_spark.zarr.writer import build_array_meta, write_chunk

        path = str(tmp_path / "crash1")
        write_zarr_grid(
            self._grid(spark), path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="overwrite",
        )
        # plant debris: cell (1, 1) of a crashed "q" add, value 900
        st = open_store(path)
        q_meta = build_array_meta(
            "q", shape=(8, 6), chunk_shape=(4, 3), dtype=np.float64,
            fill_value=-1, dimension_names=("t", "x"),
        )
        write_chunk(st, q_meta, (1, 1), np.full((4, 3), 900.0))
        # retry covers only cell (0, 0)
        add_zarr_arrays(
            self._grid(spark)
            .filter((F.col("t") < 4) & (F.col("x") < 3))
            .select("t", "x", (F.col("t") + F.col("x")).alias("q")),
            path, dims=["t", "x"], fill_value=-1.0,
        )
        back = spark.read.format("zarr").load(path)
        # the stranded 900s must be gone: cell (1,1) reads as fill
        assert back.filter(F.col("q") == 900.0).count() == 0
        assert (
            back.filter((F.col("t") >= 4) & (F.col("x") >= 3))
            .filter(F.col("q") != -1.0)
            .count()
            == 0
        )

    def test_writers_see_externally_added_arrays(self, spark, tmp_path):
        """The store's consolidated cache may legally be stale; the
        mutating validators must read the authoritative walk, or an
        add would silently overwrite a live externally-added array."""
        import json as _json

        from arrow_zarr_spark.io import add_zarr_arrays, write_zarr_grid
        from arrow_zarr_spark.zarr.writer import (
            build_array_meta,
            write_array_data,
        )

        path = str(tmp_path / "stale1")
        write_zarr_grid(
            self._grid(spark), path, dims=["t", "x"], chunk_shape=(4, 3),
            mode="overwrite",
        )
        st = open_store(path)
        # external tool adds q, does NOT re-consolidate
        q_meta = build_array_meta(
            "q", shape=(8, 6), chunk_shape=(4, 3), dtype=np.float64,
            fill_value=0, dimension_names=("t", "x"),
        )
        st.set("q/zarr.json", _json.dumps(q_meta.to_json()).encode())
        write_array_data(st, q_meta, np.ones((8, 6)))
        with pytest.raises(ZarrFormatError, match="already exists"):
            add_zarr_arrays(
                self._grid(spark).select(
                    "t", "x", F.col("v").alias("q")
                ),
                path, dims=["t", "x"],
            )
        # and the live external data is untouched
        from arrow_zarr_spark.zarr.array import open_array

        assert open_array(open_store(path), "q").read_all().sum() == 48.0


class TestStreamRegionsToZarr:
    def test_stream_region_updates_land(self, spark, tmp_path):
        from arrow_zarr_spark.streaming import stream_regions_to_zarr

        store = str(tmp_path / "rg_sink")
        base = (
            spark.range(0, 10)
            .selectExpr("id as t")
            .crossJoin(spark.range(0, 6).selectExpr("id as x"))
            .select(
                "t", "x",
                (F.col("t") * 100 + F.col("x")).cast("double").alias("v"),
            )
        )
        from arrow_zarr_spark.io import write_zarr_grid

        write_zarr_grid(
            base, store, dims=["t", "x"], chunk_shape=(4, 3),
            mode="overwrite",
        )
        # stream of corrections: negate v on t < 3
        src = str(tmp_path / "updates")
        upd = base.filter(F.col("t") < 3).select(
            "t", "x", (-F.col("v")).alias("v")
        )
        upd.write.parquet(src)
        stream = spark.readStream.schema(upd.schema).parquet(src)
        q = stream_regions_to_zarr(
            stream, store, dims=["t", "x"],
            checkpointLocation=str(tmp_path / "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        back = spark.read.format("zarr").load(store)
        assert back.count() == 60
        expected_v = F.when(
            F.col("t") < 3, -(F.col("t") * 100 + F.col("x"))
        ).otherwise(F.col("t") * 100 + F.col("x"))
        assert back.filter(F.col("v") != expected_v).count() == 0
        # the batch marker advanced
        assert open_store(store).get("__stream_region_sink_state__")


class TestDropArrayV2:
    def test_drop_refreshes_v2_cache(self, spark, tmp_path):
        """consolidate_metadata is v3-only; a drop on a v2 store must
        rebuild .zmetadata or cache readers resurrect the dropped
        column as pure fill."""
        import json as _json

        from arrow_zarr_spark.io import drop_zarr_array, vacuum_zarr

        path = str(tmp_path / "v2drop")
        df = spark.range(0, 200).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
        write_zarr(df, path, chunk_rows=100, zarr_format=2)
        drop_zarr_array(path, "v")
        st = open_store(path)
        meta = _json.loads(st.get(".zmetadata"))["metadata"]
        assert not any(k.startswith("v/") for k in meta)
        assert "k/.zarray" in meta
        back = spark.read.format("zarr").load(path)
        assert back.columns == ["k"] and back.count() == 200
        assert vacuum_zarr(path)["orphans"] == []
        # no stray v3 root was written into the v2 store
        assert not st.exists("zarr.json")


class TestDiffZarr:
    def test_diff_report(self, spark, tmp_path):
        from arrow_zarr_spark.io import (
            add_zarr_arrays,
            diff_zarr,
            write_zarr_grid,
            write_zarr_region,
        )

        g = (
            spark.range(0, 8)
            .selectExpr("id as t")
            .crossJoin(spark.range(0, 6).selectExpr("id as x"))
            .select(
                "t", "x",
                (F.col("t") * 100 + F.col("x")).cast("double").alias("v"),
            )
        )
        pa, pb = str(tmp_path / "da"), str(tmp_path / "db")
        for p in (pa, pb):
            write_zarr_grid(
                g, p, dims=["t", "x"], chunk_shape=(4, 3),
                mode="overwrite",
            )
        # perturb B: one grid point in cell (0,0), plus an extra array
        write_zarr_region(
            spark.createDataFrame([(0, 0, -7.0)], ["t", "x", "v"]),
            pb, dims=["t", "x"],
        )
        add_zarr_arrays(
            g.select("t", "x", F.col("t").cast("double").alias("q")),
            pb, dims=["t", "x"],
        )
        rep = {
            (r["array"], r["chunk_key"]): (r["status"], r["n_diff"])
            for r in diff_zarr(spark, pa, pb).collect()
        }
        assert rep[("q", None)] == ("only_b", None)
        assert rep[("v", "c/0/0")] == ("changed", 1)
        assert rep[("v", "c/1/1")] == ("equal", 0)
        assert rep[("t", "c/0")] == ("equal", 0)
        # identical stores: no non-equal rows
        clean = diff_zarr(spark, pa, pa)
        assert clean.filter("status <> 'equal'").count() == 0

    def test_layout_and_dtype_classes(self, spark, tmp_path):
        from arrow_zarr_spark.io import diff_zarr, write_zarr_grid

        g = (
            spark.range(0, 8)
            .selectExpr("id as t")
            .crossJoin(spark.range(0, 6).selectExpr("id as x"))
            .select(
                "t", "x",
                (F.col("t") * 1.0).alias("v"),
            )
        )
        pa, pb = str(tmp_path / "la"), str(tmp_path / "lb")
        write_zarr_grid(
            g, pa, dims=["t", "x"], chunk_shape=(4, 3), mode="overwrite"
        )
        write_zarr_grid(
            g, pb, dims=["t", "x"], chunk_shape=(2, 3), mode="overwrite"
        )
        rep = {
            (r["array"], r["chunk_key"]): r["status"]
            for r in diff_zarr(spark, pa, pb).collect()
        }
        # rechunked copy: values not cell-comparable, reported as such
        # (the t coordinate rechunks with the grid: 4 -> 2)
        assert rep[("v", None)] == "layout_differs"
        assert rep[("t", None)] == "layout_differs"
        # x keeps chunk 3 in both stores: comparable and equal
        assert rep[("x", "c/0")] == "equal"


class TestMaintenanceHardening:
    def test_vacuum_preserves_sink_markers(self, spark, tmp_path):
        """The streaming sinks' batch markers are live exactly-once
        state, not debris — vacuuming them would re-apply the next
        recovery replay."""
        import json as _json

        from arrow_zarr_spark.io import vacuum_zarr
        from arrow_zarr_spark.streaming.zarr_sink import SINK_MARKER_KEYS

        path = str(tmp_path / "mk1")
        write_zarr(
            spark.range(100).select(F.col("id").alias("k")),
            path, chunk_rows=50,
        )
        st = open_store(path)
        for k in SINK_MARKER_KEYS:
            st.set(k, _json.dumps({"last_batch": 3}).encode())
        rep = vacuum_zarr(path, dry_run=False)
        assert rep["orphans"] == []
        for k in SINK_MARKER_KEYS:
            assert st.get(k) is not None

    def test_drop_on_unconsolidated_v3_store(self, spark, tmp_path):
        """A v3 store without a root document (third-party,
        unconsolidated) must NOT be mistaken for v2: the drop should
        consolidate into a proper v3 root, never plant .zgroup or an
        empty v2 .zmetadata skeleton."""
        from arrow_zarr_spark.io import drop_zarr_array

        path = str(tmp_path / "uv3")
        df = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
        write_zarr(df, path, chunk_rows=50)
        st = open_store(path)
        st.delete("zarr.json")  # simulate unconsolidated v3
        drop_zarr_array(path, "v")
        st = open_store(path)
        assert st.exists("zarr.json")  # consolidated v3 root restored
        assert not st.exists(".zgroup")
        assert not st.exists(".zmetadata")
        back = spark.read.format("zarr").load(path)
        assert back.columns == ["k"] and back.count() == 100

    def test_refresh_stats_on_v2_store(self, spark, tmp_path):
        """refresh_stats on a v2 store: stats land in .zattrs (the
        .zarray codec spec is never rewritten, no stray v3 zarr.json),
        and the v2 cache refreshes."""
        import json as _json

        from arrow_zarr_spark.io import refresh_stats
        from arrow_zarr_spark.zarr.meta import STATS_ATTR_KEY

        path = str(tmp_path / "v2rs")
        df = spark.range(0, 200).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
        write_zarr(df, path, chunk_rows=100, zarr_format=2, stats=False)
        assert refresh_stats(spark, path) == 4
        st = open_store(path)
        assert not st.exists("v/zarr.json")
        zattrs = _json.loads(st.get("v/.zattrs"))
        assert len(zattrs[STATS_ATTR_KEY]) == 2
        assert zattrs["_ARRAY_DIMENSIONS"] == ["row"]  # merged, not replaced
        meta = _json.loads(st.get(".zmetadata"))["metadata"]
        assert STATS_ATTR_KEY in meta["v/.zattrs"]
        assert spark.read.format("zarr").load(path).count() == 200
        # and the retrofitted stats actually PRUNE on the v2 scan
        from pyspark.sql.datasource import GreaterThan

        from arrow_zarr_spark.datasource import ZarrDataSource

        ds = ZarrDataSource({"path": path})
        reader = ds.reader(ds.schema())
        list(reader.pushFilters([GreaterThan(("v",), 350.0)]))
        cells = [c for p in reader.partitions() for c in p.cells]
        assert cells == [(1,)]  # 200 rows / chunk 100: only chunk 1

    def test_diff_nat_compares_equal(self, spark, tmp_path):
        """NaT cells must compare equal to NaT (same trap as NaN) —
        a store diffed against itself is all-equal even with NaT."""
        from arrow_zarr_spark.io import diff_zarr
        from arrow_zarr_spark.zarr import write_store

        path = str(tmp_path / "natd")
        d = np.array(
            ["2024-01-01", "NaT", "2024-01-03", "NaT"],
            dtype="datetime64[us]",
        )
        write_store(
            path,
            arrays={"d": d},
            chunk_shapes={"d": (2,)},
            dimension_names={"d": ("row",)},
        )
        rep = diff_zarr(spark, path, path)
        assert rep.filter("status <> 'equal'").count() == 0
        assert rep.count() == 2

    def test_diff_unknown_column_rejected(self, spark, tmp_path):
        from arrow_zarr_spark.io import diff_zarr

        path = str(tmp_path / "dk")
        write_zarr(
            spark.range(50).select(F.col("id").alias("k")),
            path, chunk_rows=50,
        )
        with pytest.raises(ZarrFormatError, match="no such arrays"):
            diff_zarr(spark, path, path, columns=["vlaue"])


class TestStringCoordinateGrid:
    def test_string_axis_roundtrip(self, spark, tmp_path):
        """Grid stores with a STRING coordinate axis (xarray's
        station/category dimension pattern) round-trip value-exactly:
        vlen-utf8 coordinate array + numeric data arrays, broadcast
        alignment included."""
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "sgrid")
        st = spark.createDataFrame(
            [("nyc", 1.0), ("sfo", 2.0), ("lhr", 3.0)],
            ["station", "code"],
        )
        g = (
            spark.range(0, 6)
            .selectExpr("id as t")
            .crossJoin(st)
            .select(
                "t", "station",
                (F.col("t") * 10.0 + F.col("code")).alias("v"),
            )
        )
        write_zarr_grid(
            g, path, dims=["t", "station"], chunk_shape=(3, 2),
            mode="overwrite",
        )
        back = spark.read.format("zarr").load(path)
        got = {(r["t"], r["station"]): r["v"] for r in back.collect()}
        exp = {
            (t, s): t * 10.0 + c
            for t in range(6)
            for s, c in [("nyc", 1.0), ("sfo", 2.0), ("lhr", 3.0)]
        }
        assert got == exp
        # equality filters on the string axis prune to its column
        assert back.filter("station = 'lhr'").count() == 6


class TestDatetimeCoordinateGrid:
    def test_time_dimension_roundtrip_and_region(self, spark, tmp_path):
        """Grid store with a TimestampNTZ coordinate axis — THE xarray
        pattern (time dimension). Round-trip, timestamp-filtered read,
        and an in-place region write addressed by timestamp."""
        from arrow_zarr_spark.io import write_zarr_grid, write_zarr_region

        path = str(tmp_path / "tgrid")
        g = spark.sql(
            "SELECT timestampadd(HOUR, r.id, "
            "TIMESTAMP_NTZ'2024-01-01 00:00:00') AS ts, "
            "x.id AS x, CAST(r.id * 10 + x.id AS DOUBLE) AS v "
            "FROM range(0, 6) r, range(0, 4) x"
        )
        write_zarr_grid(
            g, path, dims=["ts", "x"], chunk_shape=(3, 2),
            mode="overwrite",
        )
        back = spark.read.format("zarr").load(path)
        assert back.count() == 24
        row = back.filter(
            "ts = TIMESTAMP_NTZ'2024-01-01 05:00:00' AND x = 3"
        ).collect()
        assert len(row) == 1 and row[0]["v"] == 53.0
        upd = spark.sql(
            "SELECT TIMESTAMP_NTZ'2024-01-01 02:00:00' AS ts, "
            "1 AS x, CAST(-9 AS DOUBLE) AS v"
        )
        write_zarr_region(upd, path, dims=["ts", "x"])
        got = spark.read.format("zarr").load(path).filter(
            "ts = TIMESTAMP_NTZ'2024-01-01 02:00:00'"
        )
        assert {(r["x"], r["v"]) for r in got.collect()} == {
            (0, 20.0), (1, -9.0), (2, 22.0), (3, 23.0)
        }

    def test_region_write_on_string_axis(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid, write_zarr_region

        path = str(tmp_path / "sgrid_r")
        st = spark.createDataFrame(
            [("nyc", 1.0), ("sfo", 2.0), ("lhr", 3.0)],
            ["station", "code"],
        )
        g = (
            spark.range(0, 6)
            .selectExpr("id as t")
            .crossJoin(st)
            .select(
                "t", "station",
                (F.col("t") * 10.0 + F.col("code")).alias("v"),
            )
        )
        write_zarr_grid(
            g, path, dims=["t", "station"], chunk_shape=(3, 2),
            mode="overwrite",
        )
        write_zarr_region(
            spark.createDataFrame(
                [(2, "sfo", -1.0)], ["t", "station", "v"]
            ),
            path, dims=["t", "station"],
        )
        got = {
            (r["t"], r["station"]): r["v"]
            for r in spark.read.format("zarr").load(path).collect()
        }
        assert got[(2, "sfo")] == -1.0
        assert got[(2, "nyc")] == 21.0 and got[(3, "sfo")] == 32.0


class TestGridWriteMoreShapes:
    def test_append_along_datetime_axis(self, spark, tmp_path):
        """Daily-ingest workflow: append new time slices onto a store
        whose append dimension is a TimestampNTZ axis."""
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "ta")

        def mk(h0, h1):
            return spark.sql(
                f"SELECT timestampadd(HOUR, r.id, "
                f"TIMESTAMP_NTZ'2024-01-01 00:00:00') AS ts, "
                f"x.id AS x, CAST(r.id * 10 + x.id AS DOUBLE) AS v "
                f"FROM range({h0}, {h1}) r, range(0, 4) x"
            )

        write_zarr_grid(
            mk(0, 6), path, dims=["ts", "x"], chunk_shape=(4, 2),
            mode="overwrite",
        )
        write_zarr_grid(
            mk(6, 10), path, dims=["ts", "x"], chunk_shape=(4, 2),
            mode="append", append_dim="ts",
        )
        back = spark.read.format("zarr").load(path)
        assert back.count() == 40
        row = back.filter(
            "ts = TIMESTAMP_NTZ'2024-01-01 08:00:00' AND x = 2"
        ).collect()
        assert len(row) == 1 and row[0]["v"] == 82.0
        # pre-append values survive the boundary-chunk merge
        row = back.filter(
            "ts = TIMESTAMP_NTZ'2024-01-01 05:00:00' AND x = 1"
        ).collect()
        assert row[0]["v"] == 51.0

    def test_three_d_grid_write_roundtrip(self, spark, tmp_path):
        """The writer covers the scan's 3-D surface (z18 reads a
        fixture; this writes one) — edge chunks on all three axes."""
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "g3")
        g3 = spark.sql(
            "SELECT a.id AS a, b.id AS b, c.id AS c, "
            "CAST(a.id * 100 + b.id * 10 + c.id AS DOUBLE) AS v "
            "FROM range(0, 4) a, range(0, 3) b, range(0, 5) c"
        )
        write_zarr_grid(
            g3, path, dims=["a", "b", "c"], chunk_shape=(2, 2, 3),
            mode="overwrite",
        )
        back = spark.read.format("zarr").load(path)
        assert back.count() == 60
        got = {
            (r["a"], r["b"], r["c"]): r["v"] for r in back.collect()
        }
        assert all(
            got[(a, b, c)] == a * 100 + b * 10 + c
            for a in range(4)
            for b in range(3)
            for c in range(5)
        )


class TestShardedGridWriter:
    def test_sharded_grid_chain(self, spark, tmp_path):
        """shard_shape on the grid writer: the store object grid is
        the SHARD grid (object-count lever for N-D stores), readers
        keep inner-chunk pruning via the shard index, and region
        writes + appends work on the sharded store."""
        from arrow_zarr_spark.io import write_zarr_grid, write_zarr_region

        path = str(tmp_path / "shgrid")

        def mk(t0, t1):
            return (
                spark.range(t0, t1)
                .selectExpr("id as t")
                .crossJoin(spark.range(0, 12).selectExpr("id as x"))
                .select(
                    "t", "x",
                    (F.col("t") * 100 + F.col("x"))
                    .cast("double")
                    .alias("v"),
                )
            )

        write_zarr_grid(
            mk(0, 16), path, dims=["t", "x"], chunk_shape=(2, 3),
            shard_shape=(8, 6), mode="overwrite",
        )
        st = open_store(path)
        vkeys = sorted(
            k for k in st.walk_keys() if k.startswith("v/c")
        )
        assert vkeys == ["v/c/0/0", "v/c/0/1", "v/c/1/0", "v/c/1/1"]
        back = spark.read.format("zarr").load(path)
        assert back.count() == 192
        assert back.filter("t=15 AND x=11").first()["v"] == 1511.0
        # in-place verbs work on the sharded layout
        write_zarr_region(
            spark.createDataFrame([(5, 7, -1.0)], ["t", "x", "v"]),
            path, dims=["t", "x"],
        )
        write_zarr_grid(
            mk(16, 20), path, dims=["t", "x"], chunk_shape=(2, 3),
            shard_shape=(8, 6), mode="append", append_dim="t",
        )
        b2 = spark.read.format("zarr").load(path)
        assert b2.count() == 240
        assert b2.filter("t=19 AND x=4").first()["v"] == 1904.0
        assert b2.filter("t=5 AND x=7").first()["v"] == -1.0

    def test_shard_not_multiple_rejected(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid

        g = (
            spark.range(0, 8)
            .selectExpr("id as t")
            .crossJoin(spark.range(0, 6).selectExpr("id as x"))
            .select("t", "x", (F.col("t") * 1.0).alias("v"))
        )
        with pytest.raises(ZarrFormatError, match="multiple"):
            write_zarr_grid(
                g, str(tmp_path / "bad"), dims=["t", "x"],
                chunk_shape=(2, 3), shard_shape=(5, 6),
                mode="overwrite",
            )


class TestAddColumnShardedDonor:
    def test_added_column_inherits_sharding(self, spark, tmp_path):
        """ALTER ADD on a sharded grid store: the new column must be
        sharded like the donor (object grids match AND inner-chunk
        pruning survives), not a one-big-chunk copy."""
        import json as _json

        from arrow_zarr_spark.io import add_zarr_arrays, write_zarr_grid

        path = str(tmp_path / "shadd")
        g = (
            spark.range(0, 16)
            .selectExpr("id as t")
            .crossJoin(spark.range(0, 12).selectExpr("id as x"))
            .select(
                "t", "x",
                (F.col("t") * 100 + F.col("x")).cast("double").alias("v"),
            )
        )
        write_zarr_grid(
            g, path, dims=["t", "x"], chunk_shape=(2, 3),
            shard_shape=(8, 6), mode="overwrite",
        )
        add_zarr_arrays(
            g.select("t", "x", (F.col("t") + F.col("x")).alias("q")),
            path, dims=["t", "x"],
        )
        st = open_store(path)
        qmeta = _json.loads(st.get("q/zarr.json"))
        assert qmeta["codecs"][0]["name"] == "sharding_indexed"
        assert qmeta["codecs"][0]["configuration"]["chunk_shape"] == [2, 3]
        back = spark.read.format("zarr").load(path)
        assert back.count() == 192
        assert back.filter("t=9 AND x=11").first()["q"] == 20


class TestStringDataColumnGrid:
    def test_string_data_array_roundtrip(self, spark, tmp_path):
        """String DATA columns in an N-D grid write as N-D vlen-utf8
        arrays and scan back value-exactly (z24 pins the axis case;
        this pins the data-array case, fill included)."""
        from arrow_zarr_spark.io import write_zarr_grid

        g = (
            spark.range(0, 6)
            .selectExpr("id as t")
            .crossJoin(spark.range(0, 4).selectExpr("id as x"))
            .select(
                "t", "x",
                F.concat(
                    F.lit("cell_"), F.col("t"), F.lit("_"), F.col("x")
                ).alias("label"),
            )
        )
        path2 = str(tmp_path / "strdata2")
        write_zarr_grid(
            g.filter("t != 2 OR x != 1"), path2, dims=["t", "x"],
            chunk_shape=(3, 2), mode="overwrite", fill_value="",
        )
        back = spark.read.format("zarr").load(path2)
        assert back.count() == 24
        got = {(r["t"], r["x"]): r["label"] for r in back.collect()}
        assert got[(5, 3)] == "cell_5_3"
        assert got[(2, 1)] == ""  # absent grid point reads the fill


class TestStringGridAlterVerbs:
    def test_region_and_add_on_string_columns(self, spark, tmp_path):
        from arrow_zarr_spark.io import (
            add_zarr_arrays,
            write_zarr_grid,
            write_zarr_region,
        )

        g = (
            spark.range(0, 6)
            .selectExpr("id as t")
            .crossJoin(spark.range(0, 4).selectExpr("id as x"))
            .select(
                "t", "x",
                F.concat(
                    F.lit("c"), F.col("t"), F.lit("_"), F.col("x")
                ).alias("label"),
            )
        )
        # region write updates a string cell in place
        p1 = str(tmp_path / "strreg")
        write_zarr_grid(
            g, p1, dims=["t", "x"], chunk_shape=(3, 2),
            mode="overwrite", fill_value="",
        )
        write_zarr_region(
            spark.createDataFrame([(2, 1, "FIXED")], ["t", "x", "label"]),
            p1, dims=["t", "x"],
        )
        back = spark.read.format("zarr").load(p1)
        assert back.filter("t=2 AND x=1").first()["label"] == "FIXED"
        assert back.filter("label = 'c5_3'").count() == 1
        # ALTER ADD attaches a string column with a string fill
        p2 = str(tmp_path / "addstr")
        write_zarr_grid(
            g.select("t", "x", (F.col("t") * 1.0).alias("v")),
            p2, dims=["t", "x"], chunk_shape=(3, 2), mode="overwrite",
        )
        add_zarr_arrays(
            g.filter("t < 3"), p2, dims=["t", "x"], fill_value="?"
        )
        b2 = spark.read.format("zarr").load(p2)
        assert b2.filter("t=1 AND x=1").first()["label"] == "c1_1"
        assert b2.filter("label = '?'").count() == 12


class TestGridFillCanonicalization:
    def _g(self, spark):
        return (
            spark.range(0, 4)
            .selectExpr("id as t")
            .crossJoin(spark.range(0, 4).selectExpr("id as x"))
            .select(
                "t", "x",
                F.concat(F.lit("s"), F.col("t")).alias("label"),
            )
        )

    def test_string_column_with_default_fill(self, spark, tmp_path):
        """The DEFAULT fill_value=0 on a string column must behave as
        the declared (coerced) fill '' everywhere: no stats crash, and
        an absent grid point reads '' whether its chunk was touched or
        not (previously a touched chunk's absent points read '0')."""
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "fc1")
        write_zarr_grid(
            self._g(spark).filter("t != 1 OR x != 1"),
            path, dims=["t", "x"], chunk_shape=(3, 2), mode="overwrite",
        )
        back = spark.read.format("zarr").load(path)
        got = {(r["t"], r["x"]): r["label"] for r in back.collect()}
        assert got[(1, 1)] == ""  # absent point in a TOUCHED chunk
        assert got[(3, 3)] == "s3"

    def test_string_add_column_with_default_fill(self, spark, tmp_path):
        from arrow_zarr_spark.io import add_zarr_arrays, write_zarr_grid

        path = str(tmp_path / "fc2")
        write_zarr_grid(
            self._g(spark).select("t", "x", (F.col("t") * 1.0).alias("v")),
            path, dims=["t", "x"], chunk_shape=(3, 2), mode="overwrite",
        )
        add_zarr_arrays(
            self._g(spark).filter("t != 1 OR x != 1"),
            path, dims=["t", "x"],
        )
        back = spark.read.format("zarr").load(path)
        got = {(r["t"], r["x"]): r["label"] for r in back.collect()}
        assert got[(1, 1)] == "" and got[(0, 0)] == "s0"

    def test_fill_dict_typo_and_bad_scalar_rejected(self, spark, tmp_path):
        from arrow_zarr_spark.io import write_zarr_grid

        g = self._g(spark).select(
            "t", "x", (F.col("t") * 1.0).alias("v")
        )
        with pytest.raises(ZarrFormatError, match="no such data columns"):
            write_zarr_grid(
                g, str(tmp_path / "fc3"), dims=["t", "x"],
                chunk_shape=(3, 2), mode="overwrite",
                fill_value={"vlaue": -9},
            )
        with pytest.raises(ZarrFormatError, match="not representable"):
            write_zarr_grid(
                g, str(tmp_path / "fc4"), dims=["t", "x"],
                chunk_shape=(3, 2), mode="overwrite", fill_value="",
            )

    def test_sharded_append_infers_shard_shape(self, spark, tmp_path):
        """Appending to a sharded grid store must not require
        re-passing shard_shape (ALTER ADD already infers it)."""
        from arrow_zarr_spark.io import write_zarr_grid

        path = str(tmp_path / "fc5")

        def mk(t0, t1):
            return (
                spark.range(t0, t1)
                .selectExpr("id as t")
                .crossJoin(spark.range(0, 12).selectExpr("id as x"))
                .select(
                    "t", "x",
                    (F.col("t") * 100 + F.col("x"))
                    .cast("double")
                    .alias("v"),
                )
            )

        write_zarr_grid(
            mk(0, 16), path, dims=["t", "x"], chunk_shape=(2, 3),
            shard_shape=(8, 6), mode="overwrite",
        )
        write_zarr_grid(
            mk(16, 20), path, dims=["t", "x"], chunk_shape=(2, 3),
            mode="append", append_dim="t",  # no shard_shape
        )
        back = spark.read.format("zarr").load(path)
        assert back.count() == 240
        assert back.filter("t=19 AND x=11").first()["v"] == 1911.0


class TestShardedGridProperty:
    def test_randomized_shapes_roundtrip(self, spark, tmp_path):
        """Randomized (axes, inner chunk, shard multiple) trials: the
        sharded grid write must round-trip value-exactly, including
        edge shards on both axes, and its per-cell stats must obey the
        soundness law."""
        import math

        from arrow_zarr_spark.io import STATS_ATTR_KEY, write_zarr_grid

        rng = np.random.RandomState(4242)
        for trial in range(3):
            nt = int(rng.randint(5, 14))
            nx = int(rng.randint(4, 10))
            cs = (int(rng.randint(1, 4)), int(rng.randint(1, 4)))
            mult = (int(rng.randint(2, 4)), int(rng.randint(2, 4)))
            shard = (cs[0] * mult[0], cs[1] * mult[1])
            rows = [
                (float(t), float(x), float(rng.randint(-99, 99)))
                for t in range(nt)
                for x in range(nx)
            ]
            path = str(tmp_path / f"shp{trial}")
            write_zarr_grid(
                spark.createDataFrame(rows, ["t", "x", "v"]),
                path, dims=["t", "x"], chunk_shape=cs,
                shard_shape=shard, mode="overwrite",
            )
            back = spark.read.format("zarr").load(path)
            got = {(int(r.t), int(r.x)): r.v for r in back.collect()}
            exp = {(int(t), int(x)): v for t, x, v in rows}
            assert got == exp, (trial, nt, nx, cs, shard)
            g = (math.ceil(nt / shard[0]), math.ceil(nx / shard[1]))
            arrays = {
                a.meta.name: a
                for a in infer_store_arrays(open_store(path))
            }
            st = arrays["v"].meta.attributes[STATS_ATTR_KEY]
            assert len(st) == g[0] * g[1]
            for ci in range(g[0]):
                for cj in range(g[1]):
                    lo, hi = st[ci * g[1] + cj]
                    cell = [
                        v
                        for (t, x), v in exp.items()
                        if ci * shard[0] <= t < (ci + 1) * shard[0]
                        and cj * shard[1] <= x < (cj + 1) * shard[1]
                    ]
                    assert lo <= min(cell) and max(cell) <= hi


class TestThreeDAlterVerbs:
    def test_region_add_vacuum_audit_on_3d(self, spark, tmp_path):
        """The in-place verbs and maintenance kit are N-D generic —
        pinned on a 3-D store: region update one point, ALTER ADD a
        half-covered column, then vacuum and audit come back clean."""
        from arrow_zarr_spark.io import (
            add_zarr_arrays,
            audit_zarr,
            vacuum_zarr,
            write_zarr_grid,
            write_zarr_region,
        )

        path = str(tmp_path / "g3verbs")
        g3 = spark.sql(
            "SELECT a.id AS a, b.id AS b, c.id AS c, "
            "CAST(a.id * 100 + b.id * 10 + c.id AS DOUBLE) AS v "
            "FROM range(0, 4) a, range(0, 3) b, range(0, 5) c"
        )
        write_zarr_grid(
            g3, path, dims=["a", "b", "c"], chunk_shape=(2, 2, 3),
            mode="overwrite",
        )
        write_zarr_region(
            spark.createDataFrame(
                [(1, 1, 1, -5.0)], ["a", "b", "c", "v"]
            ),
            path, dims=["a", "b", "c"],
        )
        add_zarr_arrays(
            g3.filter("a < 2").select(
                "a", "b", "c", (F.col("c") * 1.0).alias("q")
            ),
            path, dims=["a", "b", "c"], fill_value=-1.0,
        )
        back = spark.read.format("zarr").load(path)
        row = back.filter("a=1 AND b=1 AND c=1").first()
        assert row["v"] == -5.0 and row["q"] == 1.0
        assert back.filter("q = -1.0").count() == 30  # a >= 2
        assert vacuum_zarr(path)["orphans"] == []
        assert audit_zarr(spark, path).filter("NOT ok").count() == 0


class TestRenameArray:
    """rename_zarr_array (w16): ALTER RENAME COLUMN across formats."""

    def _table(self, spark, lo, hi):
        from pyspark.sql import functions as F

        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )

    def test_data_column_roundtrip(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from arrow_zarr_spark.io import rename_zarr_array, write_zarr

        d = str(tmp_path / "t")
        write_zarr(self._table(spark, 0, 48), d, chunk_rows=16)
        n = rename_zarr_array(d, "v", "w", spark=spark)
        assert n == 4  # 3 chunks + zarr.json
        got = spark.read.format("zarr").load(d)
        assert sorted(got.columns) == ["k", "w"]
        assert got.agg(F.sum("w")).first()[0] == sum(
            i * 2.0 for i in range(48)
        )

    def test_coordinate_rename_rewrites_referencing_dims(
        self, spark, tmp_path
    ):
        from pyspark.sql import functions as F

        from arrow_zarr_spark.io import (
            rename_zarr_array,
            write_zarr_grid,
        )
        from arrow_zarr_spark.zarr import open_store
        from arrow_zarr_spark.zarr.array import open_array

        d = str(tmp_path / "g")
        rows = [
            (float(la), float(lo), float(la * 10 + lo))
            for la in range(4)
            for lo in range(6)
        ]
        g = spark.createDataFrame(rows, "lat double, lon double, temp double")
        write_zarr_grid(g, d, dims=["lat", "lon"], chunk_shape=(2, 3))
        rename_zarr_array(d, "lat", "latitude")
        st = open_store(d)
        assert tuple(open_array(st, "temp").meta.dimension_names) == (
            "latitude",
            "lon",
        )
        got = spark.read.format("zarr").load(d)
        assert sorted(got.columns) == ["latitude", "lon", "temp"]
        assert (
            got.filter(F.col("latitude") == 2.0)
            .agg(F.sum("temp"))
            .first()[0]
            == sum(20 + lo for lo in range(6))
        )

    def test_v2_rename(self, spark, tmp_path):
        from arrow_zarr_spark.io import rename_zarr_array, write_zarr

        d = str(tmp_path / "t2")
        write_zarr(self._table(spark, 0, 32), d, chunk_rows=16,
                   zarr_format=2)
        rename_zarr_array(d, "v", "vv")
        got = spark.read.format("zarr").load(d)
        assert sorted(got.columns) == ["k", "vv"] and got.count() == 32

    def test_collision_and_missing_raise(self, spark, tmp_path):
        import pytest as _pytest

        from arrow_zarr_spark.io import rename_zarr_array, write_zarr
        from arrow_zarr_spark.zarr import ZarrFormatError

        d = str(tmp_path / "t")
        write_zarr(self._table(spark, 0, 16), d, chunk_rows=16)
        with _pytest.raises(ZarrFormatError, match="already exists"):
            rename_zarr_array(d, "v", "k")
        with _pytest.raises(ZarrFormatError, match="no array"):
            rename_zarr_array(d, "nope", "x")

    def test_stats_pruning_survives_rename(self, spark, tmp_path):
        """The writer's [min,max] stats ride in the array's own
        metadata document — a rename must keep planning-time pruning
        working under the new name."""
        from pyspark.sql import functions as F

        from arrow_zarr_spark.io import rename_zarr_array, write_zarr

        d = str(tmp_path / "t")
        write_zarr(self._table(spark, 0, 128), d, chunk_rows=16)
        rename_zarr_array(d, "v", "w", spark=spark)
        got = spark.read.format("zarr").load(d).filter(F.col("w") < 10)
        assert got.count() == 5  # v = 2*k < 10 -> k in 0..4


class TestSmallWriteFastPathParity:
    """r14: frames at or under io.WRITE_DRIVER_ROWS_MAX rows take a
    driver-side fast path through the SAME chunk-writer closure (no
    chunk-id shuffle, no Python stage). The pinned claim: the produced
    store is BYTE-identical — every key, every object — to the
    distributed commit protocol, across chunking regimes, sharding,
    string and datetime columns, zarr v2, and appends."""

    @staticmethod
    def _tree(path):
        import os

        out = {}
        for dp, _, fns in os.walk(str(path)):
            for fn in fns:
                fp = os.path.join(dp, fn)
                with open(fp, "rb") as fh:
                    out[os.path.relpath(fp, str(path))] = fh.read()
        return out

    def _both(self, monkeypatch, frame, tmp_path, tag, **kw):
        from arrow_zarr_spark import io as azio

        fast = str(tmp_path / f"{tag}_fast")
        dist = str(tmp_path / f"{tag}_dist")
        monkeypatch.setattr(azio, "WRITE_DRIVER_ROWS_MAX", 1 << 40)
        n_fast = azio.write_zarr(frame, fast, **kw)
        monkeypatch.setattr(azio, "WRITE_DRIVER_ROWS_MAX", 0)
        n_dist = azio.write_zarr(frame, dist, **kw)
        assert n_fast == n_dist
        a, b = self._tree(fast), self._tree(dist)
        assert sorted(a) == sorted(b)
        diff = [k for k in a if a[k] != b[k]]
        assert diff == [], f"byte mismatch in {diff[:4]}"

    @pytest.mark.parametrize("chunk_rows", [4096, 100, 7])
    def test_numeric_chunkings(self, spark, tmp_path, monkeypatch,
                               chunk_rows):
        df = spark.range(0, 500, 1, 4).selectExpr(
            "id",
            "cast(id % 7 AS int) AS i32",
            "cast(id * 1.5 - 250 AS double) AS x",
            "cast(id % 2 = 0 AS boolean) AS b",
            "cast(id * 0.25 AS float) AS f",
        )
        self._both(monkeypatch, df, tmp_path, f"num{chunk_rows}",
                   chunk_rows=chunk_rows, mode="overwrite")

    def test_sharded(self, spark, tmp_path, monkeypatch):
        df = spark.range(0, 600, 1, 3).selectExpr(
            "id", "cast(id AS double) AS x"
        )
        self._both(monkeypatch, df, tmp_path, "shard",
                   chunk_rows=50, shard_chunks=4, mode="overwrite")

    def test_strings_and_datetime(self, spark, tmp_path, monkeypatch):
        df = spark.range(0, 300, 1, 2).selectExpr(
            "id",
            "concat('doc-', cast(id AS string)) AS name",
            "timestampadd(SECOND, cast(id AS int), "
            "timestamp_ntz'2024-01-01 00:00:00') AS ts",
        )
        self._both(monkeypatch, df, tmp_path, "strdt",
                   chunk_rows=128, mode="overwrite")

    def test_zarr_v2(self, spark, tmp_path, monkeypatch):
        df = spark.range(0, 200, 1, 2).selectExpr(
            "id", "cast(id AS double) AS x"
        )
        self._both(monkeypatch, df, tmp_path, "v2",
                   chunk_rows=64, mode="overwrite", zarr_format=2)

    def test_append_boundary_merge(self, spark, tmp_path, monkeypatch):
        from arrow_zarr_spark import io as azio

        base = spark.range(0, 333, 1, 3).selectExpr(
            "id", "cast(id AS double) AS x"
        )
        delta = spark.range(333, 500, 1, 2).selectExpr(
            "id", "cast(id AS double) AS x"
        )
        fast = str(tmp_path / "ap_fast")
        dist = str(tmp_path / "ap_dist")
        for path, cap in ((fast, 1 << 40), (dist, 0)):
            monkeypatch.setattr(azio, "WRITE_DRIVER_ROWS_MAX", cap)
            azio.write_zarr(base, path, chunk_rows=128, mode="overwrite")
            azio.write_zarr(delta, path, chunk_rows=128, mode="append")
        a, b = self._tree(fast), self._tree(dist)
        assert sorted(a) == sorted(b)
        assert [k for k in a if a[k] != b[k]] == []

    def test_fast_path_roundtrip(self, spark, tmp_path):
        """A tiny write lands on the fast path by default and the
        store round-trips through the scan."""
        from arrow_zarr_spark import io as azio

        df = spark.range(0, 50, 1, 2).selectExpr(
            "id", "cast(id AS double) AS x"
        )
        path = str(tmp_path / "tiny")
        assert azio.write_zarr(df, path, chunk_rows=16,
                               mode="overwrite") == 50
        back = spark.read.format("zarr").load(path)
        assert back.count() == 50
        assert back.agg(F.sum("id")).first()[0] == sum(range(50))
