"""Property-based tests (hypothesis) for the Zarr format layer — the
reference tests only golden values (SURVEY §5); randomized coverage of
the codec chain, chunk math, and broadcast semantics goes beyond it.

No Spark session needed: these run against the pure-Python layer."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from arrow_zarr_spark.zarr import (
    ChunkPlan,
    infer_store_arrays,
    open_store,
    write_store,
)
from arrow_zarr_spark.zarr.codecs import decode_chunk, encode_chunk
from arrow_zarr_spark.zarr.meta import ArrayMeta

_DTYPES = ["int8", "int16", "int32", "int64", "float32", "float64", "bool"]


@st.composite
def chunk_arrays(draw):
    dtype = draw(st.sampled_from(_DTYPES))
    ndim = draw(st.integers(1, 3))
    shape = tuple(draw(st.integers(1, 8)) for _ in range(ndim))
    rng = np.random.RandomState(draw(st.integers(0, 2**31 - 1)))
    if dtype == "bool":
        arr = rng.rand(*shape) > 0.5
    elif dtype.startswith("float"):
        arr = rng.standard_normal(shape).astype(dtype)
    else:
        info = np.iinfo(dtype)
        arr = rng.randint(
            info.min, int(info.max) + 1 if info.bits < 64 else info.max,
            size=shape,
        ).astype(dtype)
    return arr


@given(
    data=st.binary(min_size=0, max_size=8192),
    typesize=st.sampled_from([1, 2, 4, 8, 16, 32]),
    cname=st.sampled_from(["lz4", "lz4hc", "zstd", "zlib", "snappy"]),
    shuffle=st.sampled_from(["noshuffle", "shuffle"]),
    blocksize=st.sampled_from([0, 256, 1024, 4096]),
)
@settings(max_examples=120, deadline=None)
def test_blosc_frame_roundtrip(data, typesize, cname, shuffle, blocksize):
    """Any byte payload survives the blosc1 frame codec under every
    supported (compressor, shuffle, typesize, blocksize) combination —
    including payloads not divisible by typesize, empty payloads, and
    block counts > 1 with ragged final blocks."""
    from arrow_zarr_spark.zarr.codecs import _blosc_compress, _blosc_decompress

    frame = _blosc_compress(
        data, typesize=typesize, cname=cname, shuffle=shuffle,
        blocksize=blocksize,
    )
    assert _blosc_decompress(frame) == data


@given(
    arr=chunk_arrays(),
    compression=st.sampled_from(
        ["zstd", "gzip", "none", "blosc-lz4", "blosc-zstd"]
    ),
)
@settings(max_examples=60, deadline=None)
def test_codec_roundtrip(arr, compression):
    from arrow_zarr_spark.zarr.codecs import default_codecs

    meta = ArrayMeta(
        name="x",
        shape=arr.shape,
        chunk_shape=arr.shape,
        zarr_dtype={
            "b": "bool", "i": f"int{arr.dtype.itemsize * 8}",
            "f": f"float{arr.dtype.itemsize * 8}",
        }[arr.dtype.kind],
        fill_value=0,
        codecs=default_codecs(compression),
    )
    out = decode_chunk(meta, encode_chunk(meta, arr))
    np.testing.assert_array_equal(out, arr)


@given(
    n=st.integers(1, 40),
    chunk=st.integers(1, 12),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=40, deadline=None)
def test_1d_store_roundtrip(tmp_path_factory, n, chunk, seed):
    rng = np.random.RandomState(seed)
    data = rng.standard_normal(n)
    path = str(tmp_path_factory.mktemp("prop") / f"s_{n}_{chunk}_{seed}")
    write_store(path, arrays={"v": data}, chunk_shapes={"v": (chunk,)})
    arrays = infer_store_arrays(open_store(path))
    np.testing.assert_array_equal(arrays[0].read_all(), data)
    plan = ChunkPlan(arrays)
    flat = np.concatenate([plan.evaluate(c)["v"] for c in plan.cells()])
    np.testing.assert_array_equal(flat, data)


@given(
    rows=st.integers(1, 12),
    cols=st.integers(1, 12),
    cr=st.integers(1, 6),
    cc=st.integers(1, 6),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=40, deadline=None)
def test_2d_broadcast_matches_numpy(tmp_path_factory, rows, cols, cr, cc, seed):
    """For any grid geometry: concatenated (data, lat, lon) vectors from
    all cells must equal the numpy meshgrid flattening, cell by cell."""
    rng = np.random.RandomState(seed)
    data = rng.standard_normal((rows, cols))
    lat = np.arange(rows, dtype=np.float64)
    lon = np.arange(100, 100 + cols, dtype=np.float64)
    path = str(
        tmp_path_factory.mktemp("prop2")
        / f"g_{rows}_{cols}_{cr}_{cc}_{seed}"
    )
    write_store(
        path,
        arrays={"data": data, "lat": lat, "lon": lon},
        chunk_shapes={"data": (cr, cc), "lat": (cr,), "lon": (cc,)},
        dimension_names={
            "data": ("lat", "lon"), "lat": ("lat",), "lon": ("lon",)
        },
    )
    plan = ChunkPlan(infer_store_arrays(open_store(path)))
    for cell in plan.cells():
        got = plan.evaluate(cell)
        r0, c0 = cell[0] * cr, cell[1] * cc
        sub = data[r0 : r0 + cr, c0 : c0 + cc]
        la = lat[r0 : r0 + cr]
        lo = lon[c0 : c0 + cc]
        np.testing.assert_array_equal(got["data"], sub.ravel())
        np.testing.assert_array_equal(
            got["lat"], np.repeat(la, sub.shape[1])
        )
        np.testing.assert_array_equal(got["lon"], np.tile(lo, sub.shape[0]))


@given(
    dims=st.integers(1, 2),
    inner=st.integers(1, 4),
    mult=st.integers(1, 4),
    dtype=st.sampled_from(["int32", "int64", "float64"]),
    index_location=st.sampled_from(["start", "end"]),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=60, deadline=None)
def test_shard_roundtrip_property(dims, inner, mult, dtype, index_location, seed):
    """Random shard geometries (inner shape always divides the shard
    shape by construction) survive encode/decode for every dtype and
    index location."""
    from arrow_zarr_spark.zarr.codecs import decode_chunk, encode_chunk

    rng = np.random.RandomState(seed)
    inner_shape = tuple([inner] * dims)
    shard_shape = tuple([inner * mult] * dims)
    if dtype.startswith("float"):
        arr = rng.standard_normal(shard_shape).astype(dtype)
    else:
        arr = rng.randint(-1000, 1000, size=shard_shape).astype(dtype)
    meta = ArrayMeta(
        name="x",
        shape=shard_shape,
        chunk_shape=shard_shape,
        zarr_dtype=dtype,
        fill_value=0,
        codecs=[{
            "name": "sharding_indexed",
            "configuration": {
                "chunk_shape": list(inner_shape),
                "codecs": [
                    {"name": "bytes", "configuration": {"endian": "little"}},
                    {"name": "zstd", "configuration": {"level": 1}},
                ],
                "index_location": index_location,
            },
        }],
    )
    out = decode_chunk(meta, encode_chunk(meta, arr))
    np.testing.assert_array_equal(out, arr)


@given(
    rows=st.integers(1, 5000),
    chunk=st.integers(1, 600),
    shard_chunks=st.integers(1, 6),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_sharded_table_layout_roundtrip(
    tmp_path_factory, rows, chunk, shard_chunks, seed
):
    """The distributed writer's sharded 1-D layout (io._table_codecs +
    unit-sized write_chunk objects) must round-trip for any
    rows/chunk/shard combination — partial tail shards, single-row
    stores, unit > rows."""
    from arrow_zarr_spark.io import _table_codecs
    from arrow_zarr_spark.zarr.array import ZarrArray
    from arrow_zarr_spark.zarr.writer import write_chunk

    d = str(tmp_path_factory.mktemp("shard_layout"))
    rng = np.random.RandomState(seed)
    values = rng.randint(-(2**40), 2**40, size=rows).astype("int64")
    unit = chunk * shard_chunks
    meta = ArrayMeta(
        name="k",
        shape=(rows,),
        chunk_shape=(unit,),
        zarr_dtype="int64",
        fill_value=0,
        codecs=_table_codecs(chunk, shard_chunks, "zstd"),
    )
    store = open_store(d)
    import json

    store.set("k/zarr.json", json.dumps(meta.to_json()).encode())
    for cid in range(-(-rows // unit)):
        write_chunk(
            store, meta, (cid,), values[cid * unit : (cid + 1) * unit]
        )
    arrays = {a.meta.name: a for a in infer_store_arrays(store)}
    assert arrays["k"].read_all().tolist() == values.tolist()


@st.composite
def leftover_columns(draw):
    """Random mixed numeric/string/datetime column sets like the ones
    the format sink stages between write() and commit()."""
    n_rows = draw(st.integers(1, 40))
    n_cols = draw(st.integers(1, 5))
    rng = np.random.RandomState(draw(st.integers(0, 2**31 - 1)))
    cols = {}
    for i in range(n_cols):
        kind = draw(st.sampled_from(["num", "str", "dt"]))
        name = f"c{i}"
        if kind == "num":
            dt = draw(st.sampled_from(["int32", "int64", "float64", "uint16"]))
            cols[name] = rng.randint(0, 1000, size=n_rows).astype(dt)
        elif kind == "dt":
            cols[name] = rng.randint(0, 10**15, size=n_rows).astype(
                "datetime64[us]"
            )
        else:
            pool = ["", "a", "héllo wörld", "日本語テキスト", "x" * 300, "🎉🎊"]
            vals = np.empty(n_rows, dtype=object)
            for j in range(n_rows):
                vals[j] = draw(st.sampled_from(pool)) + str(j % 7)
            cols[name] = vals
    return cols


@given(cols=leftover_columns())
@settings(max_examples=60, deadline=None)
def test_leftover_staging_roundtrip(cols):
    """The pickle-free staging format must round-trip every column
    combination the sink can stage: numerics of any dtype (raw bytes),
    datetime64 (dtype-str preserved), and arbitrary UTF-8 strings
    (multi-byte, empty, long) — plus name validation on mismatch."""
    import pytest as _pytest

    from arrow_zarr_spark.sinks import _pack_leftover, _unpack_leftover
    from arrow_zarr_spark.zarr.meta import ZarrFormatError

    names = list(cols)
    raw = _pack_leftover(names, cols)
    back = _unpack_leftover(names, raw)
    for n in names:
        a, b = cols[n], back[n]
        if a.dtype == object:
            assert list(a) == list(b)
        else:
            assert a.dtype == b.dtype
            np.testing.assert_array_equal(a, b)
    if len(names) > 1:
        with _pytest.raises(ZarrFormatError, match="does not match"):
            _unpack_leftover(list(reversed(names)), raw)


@given(
    payload=st.binary(min_size=0, max_size=2048),
    flip=st.integers(0, 2**31 - 1),
)
@settings(max_examples=80, deadline=None)
def test_crc32c_codec_detects_any_single_bitflip(payload, flip):
    """Round-trip holds for any payload, and ANY single-bit corruption
    of the encoded chunk (body or trailer) is caught — CRC-32C detects
    all single-bit errors by construction."""
    import pytest as _pytest

    from arrow_zarr_spark.zarr.codecs import _bb_decode, _bb_encode
    from arrow_zarr_spark.zarr.meta import ZarrFormatError

    enc = _bb_encode("crc32c", {}, payload)
    assert _bb_decode("crc32c", {}, enc, len(payload)) == payload
    bit = flip % (len(enc) * 8)
    corrupted = bytearray(enc)
    corrupted[bit // 8] ^= 1 << (bit % 8)
    with _pytest.raises(ZarrFormatError, match="checksum mismatch"):
        _bb_decode("crc32c", {}, bytes(corrupted), len(payload))


# ---------------------------------------------------------------------------
# statistics-pruning soundness: if the interval test prunes, the exact
# row mask must have been empty — for every op, dtype, and bound pair
# ---------------------------------------------------------------------------

_PRED_OPS = ["eq", "neq", "lt", "le", "gt", "ge"]


@st.composite
def pred_and_column(draw):
    from arrow_zarr_spark.filters import ChunkPredicate

    float_mode = draw(st.booleans())
    if float_mode:
        vals = draw(
            st.lists(
                st.one_of(
                    st.floats(-1e6, 1e6, allow_nan=False),
                    st.just(float("nan")),
                ),
                min_size=1,
                max_size=30,
            )
        )
        col = np.array(vals, dtype=np.float64)
        value = draw(st.floats(-1e6, 1e6, allow_nan=False))
    else:
        col = np.array(
            draw(st.lists(st.integers(-1000, 1000), min_size=1, max_size=30)),
            dtype=np.int64,
        )
        value = draw(st.integers(-1000, 1000))
    op = draw(st.sampled_from(_PRED_OPS + ["isin"]))
    if op == "isin":
        pred = ChunkPredicate("c", "isin", (value, value + 3))
    else:
        pred = ChunkPredicate("c", op, value)
    return pred, col


@given(pc=pred_and_column())
@settings(max_examples=300, deadline=None)
def test_interval_prune_implies_empty_mask(pc):
    """The soundness bar as a law: interval_possible(pred, min, max)
    == False must imply pred.mask(column) is all-False. NaN-bearing
    float columns encode bounds as None via the writer (never pruned);
    here we feed the RAW NaN-propagating min/max straight in, which is
    the strictly harder case the positive-comparison design must also
    survive."""
    from arrow_zarr_spark.filters import interval_possible

    pred, col = pc
    lo, hi = col.min(), col.max()  # NaN propagates, like np.min
    if not interval_possible(pred, lo, hi):
        assert not pred.mask({"c": col}).any(), (pred, lo, hi, col)


@given(
    strs=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
            max_size=12,
        ),
        min_size=1,
        max_size=20,
    ),
    value=st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
        max_size=8,
    ),
    op=st.sampled_from(_PRED_OPS + ["startswith"]),
)
@settings(max_examples=300, deadline=None)
def test_interval_prune_implies_empty_mask_strings(strs, value, op):
    """Same law over string columns, including the truncated-bound
    encoding the writers use (min truncates down, max rounds up via
    prefix_successor) and the startswith interval test."""
    from arrow_zarr_spark.filters import ChunkPredicate, interval_possible
    from arrow_zarr_spark.io import _stat_encode

    col = np.array(strs, dtype=object)
    pred = ChunkPredicate("c", op, value)
    lo = _stat_encode(min(strs), np.dtype(object))
    hi = _stat_encode(max(strs), np.dtype(object), upper=True)
    if not interval_possible(pred, lo, hi):
        assert not pred.mask({"c": col}).any(), (pred, lo, hi, strs)


# ---------------------------------------------------------------------------
# Versioning (zarr/versions.py): model-checked random op sequences.
# commit/rollback run their REAL code paths via the serial (spark=None)
# fallback — same per-key logic the distributed path maps over.
# ---------------------------------------------------------------------------

_VOPS = st.lists(
    st.one_of(
        st.tuples(
            st.just("set"),
            st.integers(0, 5),          # key slot
            st.binary(min_size=0, max_size=32),
        ),
        st.tuples(st.just("delete"), st.integers(0, 5)),
        st.tuples(st.just("commit")),
        st.tuples(st.just("rollback"), st.integers(1, 8)),
        st.tuples(st.just("vacuum"), st.integers(1, 3)),
    ),
    min_size=1,
    max_size=14,
)


@given(ops=_VOPS)
@settings(max_examples=40, deadline=None)
def test_versioning_model(ops):
    """Invariant, after EVERY operation: each retained version's view
    reproduces exactly the live key->bytes mapping at its commit time
    (keys AND values), the live store matches the model, and vacuumed
    versions are gone. Commits/rollbacks/vacuums interleave with
    arbitrary key edits, including rollback past later edits and
    vacuum dropping rolled-back-to... versions (kept-window only)."""
    import tempfile

    from arrow_zarr_spark.zarr.meta import ZarrFormatError
    from arrow_zarr_spark.zarr.versions import (
        VERSIONS_PREFIX,
        commit_version,
        open_version,
        rollback_zarr,
        vacuum_versions,
    )

    root = tempfile.mkdtemp()
    path = root + "/s"
    store = open_store(path)
    keys = [f"a{i}/c/{i}" for i in range(4)] + ["zarr.json", "a0/zarr.json"]
    live = {}           # model of the live store
    snapshots = {}      # version -> dict snapshot
    # seed so the first commit can't hit the empty-store error
    store.set(keys[0], b"seed")
    live[keys[0]] = b"seed"

    def check():
        got_live = {
            k: store.get(k)
            for k in store.walk_keys()
            if not k.startswith(VERSIONS_PREFIX)
        }
        assert got_live == live
        for v, snap in snapshots.items():
            view = open_version(path, v)
            got = {k: view.get(k) for k in view.walk_keys()}
            assert got == snap, f"version {v} drifted"

    for op in ops:
        if op[0] == "set":
            k, val = keys[op[1]], op[2]
            store.set(k, val)
            live[k] = val
        elif op[0] == "delete":
            k = keys[op[1]]
            store.delete(k)
            live.pop(k, None)
        elif op[0] == "commit":
            if not live:
                continue
            info = commit_version(None, path)
            snapshots[info["version"]] = dict(live)
        elif op[0] == "rollback":
            if op[1] not in snapshots:
                continue
            rollback_zarr(None, path, op[1])
            live = dict(snapshots[op[1]])
        elif op[0] == "vacuum":
            if not snapshots:
                continue
            out = vacuum_versions(path, keep_last=op[1], grace_seconds=0)
            for v in out["dropped_versions"]:
                snapshots.pop(v, None)
            for v in out["dropped_versions"]:
                try:
                    open_version(path, v)
                    raise AssertionError(f"dropped version {v} still opens")
                except ZarrFormatError:
                    pass
        check()


@given(
    n=st.integers(10, 80),
    chunk=st.integers(2, 20),
    n_up=st.integers(1, 15),
    seed=st.integers(0, 10_000),
)
@settings(max_examples=12, deadline=None)
def test_upsert_matches_merge_model(spark, tmp_path_factory, n, chunk, n_up, seed):
    """For any store geometry and update batch: upsert_zarr's final
    store state must equal the relational MERGE model — every store
    row whose key is in the batch carries the batch's value (ALL
    duplicates of that key), every other row is untouched, unmatched
    batch keys are ignored. Exercises the key-stats prune, the
    position join, and the object rewrite across random chunkings,
    duplicate store keys, and partially-matching batches."""
    from arrow_zarr_spark.io import upsert_zarr, write_zarr

    rng = np.random.RandomState(seed)
    keys = rng.randint(0, n * 2, size=n)  # duplicates likely
    vals = rng.standard_normal(n).round(6)
    path = str(
        tmp_path_factory.mktemp("upsprop") / f"s_{n}_{chunk}_{seed}"
    )
    rows = [(int(k), float(v)) for k, v in zip(keys, vals)]
    write_zarr(
        spark.createDataFrame(rows, "k long, v double").coalesce(1),
        path,
        chunk_rows=chunk,
    )
    up_keys = rng.choice(np.arange(0, n * 2), size=min(n_up, n * 2),
                         replace=False)
    up_vals = rng.standard_normal(len(up_keys)).round(6)
    batch = [(int(k), float(v)) for k, v in zip(up_keys, up_vals)]
    out = upsert_zarr(
        spark.createDataFrame(batch, "k long, v double"),
        path,
        key_col="k",
        on_missing="ignore",
    )
    upd = dict(batch)
    expected = sorted(
        (k, upd.get(k, v)) for k, v in rows
    )
    got = sorted(
        (r["k"], r["v"])
        for r in spark.read.format("zarr").load(path).collect()
    )
    assert got == expected
    assert out["updated_rows"] == sum(1 for k, _ in rows if k in upd)
    assert out["touched_objects"] <= out["candidate_objects"] <= out[
        "total_objects"
    ]


class TestIntegerRoundingIdentity:
    """The SQ8 encode's pure-integer half-away-from-zero identity —
    the fact that lets the s06/s07 oracles replay the encode with
    BIGINT // and no float rounding anywhere."""

    @given(
        st.integers(min_value=-(2**40), max_value=2**40),
        st.integers(min_value=1, max_value=2**20),
    )
    def test_matches_float_half_away(self, n, s):
        from fractions import Fraction

        code = (1 if n >= 0 else -1) * ((2 * abs(n) + s) // (2 * s))
        # exact rational half-away-from-zero reference
        q = Fraction(abs(n), s)
        ref = (1 if n >= 0 else -1) * int(q + Fraction(1, 2))
        assert code == ref

    @given(
        st.lists(
            st.integers(min_value=-32768, max_value=32768),
            min_size=1,
            max_size=64,
        )
    )
    def test_codes_fit_int8_under_scale_law(self, ns):
        ma = max(abs(n) for n in ns)
        s = max(1, (ma + 126) // 127)
        for n in ns:
            code = (1 if n >= 0 else -1) * ((2 * abs(n) + s) // (2 * s))
            assert -127 <= code <= 127


class TestInterpolationFormula:
    """The j07/e07 kernel expression agrees with numpy.interp for
    in-range points on exact-integer time grids."""

    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=10**9),
                st.floats(
                    min_value=-1e6,
                    max_value=1e6,
                    allow_nan=False,
                    allow_infinity=False,
                ),
            ),
            min_size=2,
            max_size=20,
            unique_by=lambda tv: tv[0],
        ),
        st.integers(min_value=0, max_value=10**9),
    )
    def test_matches_numpy_interp(self, pts, t):
        import numpy as np

        pts = sorted(pts)
        ts = np.array([p[0] for p in pts], dtype=np.float64)
        vs = np.array([p[1] for p in pts], dtype=np.float64)
        if not (ts[0] <= t <= ts[-1]):
            return  # edges are flat extrapolation in both — trivial
        j = int(np.searchsorted(ts, t, side="left"))
        i = int(np.searchsorted(ts, t, side="right")) - 1
        if ts[j] == ts[i]:
            got = vs[i]
        else:
            pt, pv, nt, nv = ts[i], vs[i], ts[j], vs[j]
            got = pv + (nv - pv) * (t - pt) / (nt - pt)
        want = float(np.interp(t, ts, vs))
        assert got == pytest.approx(want, rel=1e-12, abs=1e-9)


# ---------------------------------------------------------------- j08
@st.composite
def nearest_inputs(draw):
    """(left rows, right rows, tolerance) for nearest_join: integer
    times (exact in doubles), right times UNIQUE per key (the
    operator's determinism assumption, same as the events fixture)."""
    n_keys = draw(st.integers(1, 3))
    lefts, rights = [], []
    lid, rid = 0, 1000
    for k in range(n_keys):
        for t in draw(
            st.lists(st.integers(0, 30), min_size=0, max_size=5)
        ):
            lid += 1
            lefts.append((k, float(t), lid))
        for t in draw(
            st.lists(
                st.integers(0, 30), min_size=0, max_size=5, unique=True
            )
        ):
            rid += 1
            rights.append((k, float(t), rid))
    tol = draw(st.one_of(st.none(), st.integers(0, 10)))
    return lefts, rights, tol


@given(nearest_inputs())
@settings(max_examples=12, deadline=None)
def test_nearest_join_matches_reference(spark, case):
    """j08 vs a brute-force reference of its documented contract:
    nearest by |dt|, ties to the EARLIER right time, tolerance nulls
    far matches, left-outer (every left row survives)."""
    from arrow_zarr_spark.operators.joins import nearest_join

    lefts, rights, tol = case
    if not lefts:
        return
    left = spark.createDataFrame(
        lefts, "k long, ts double, lid long"
    )
    right = spark.createDataFrame(
        rights, "k long, ts double, rid long"
    )
    got = {
        r.lid: r.r_rid
        for r in nearest_join(
            left, right, on="ts", by=["k"],
            tolerance_seconds=float(tol) if tol is not None else None,
        ).collect()
    }
    expect = {}
    for k, t, lid in lefts:
        cands = [
            (abs(t - rt), rt, rr) for (kk, rt, rr) in rights if kk == k
        ]
        if tol is not None:
            cands = [c for c in cands if c[0] <= tol]
        expect[lid] = min(cands)[2] if cands else None
    assert got == expect


# ---------------------------------------------------------------- d19
@st.composite
def containment_corpora(draw):
    """Small random corpora with engineered overlap: documents are
    word sequences over a 12-word vocabulary, so shared trigrams are
    common and the containment/Jaccard distinction gets exercised."""
    vocab = [f"w{i}" for i in range(12)]
    n_docs = draw(st.integers(2, 6))
    docs = []
    for i in range(n_docs):
        words = draw(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=12)
        )
        docs.append((i, " ".join(words)))
    thr = draw(st.sampled_from([0.2, 0.5, 0.8]))
    return docs, thr


@given(containment_corpora())
@settings(max_examples=12, deadline=None)
def test_containment_pairs_matches_reference(spark, case):
    """d19 vs a brute-force reference of its documented contract:
    directional |A ∩ B| / |A| over distinct word-trigrams, rounded to
    6, threshold-filtered, id_a = the contained doc."""
    from arrow_zarr_spark.operators.dedup import containment_pairs

    docs, thr = case
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.containment
        for r in containment_pairs(df, threshold=thr).collect()
    }

    def tri(text):
        ws = text.split(" ")  # single-space split, the engine's rule
        return {
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        } if len(ws) >= 3 else set()

    sets = {i: tri(t) for i, t in docs}
    expect = {}
    for a, sa in sets.items():
        if not sa:
            continue
        for b, sb in sets.items():
            if a == b:
                continue
            # Engine rounds with F.round → HALF-UP; shingle-set sizes
            # divisible by 128 land k/n exactly on .5 of the 1e-6
            # grid, where Python's half-even round() disagrees.
            from refmath import round_half_up

            c = round_half_up(len(sa & sb) / len(sa), 6)
            if c >= thr:
                expect[(a, b)] = c
    assert got == expect


@given(
    grid=st.lists(st.integers(1, 9), min_size=1, max_size=4),
    chunks_per=st.integers(1, 64),
)
@settings(max_examples=60, deadline=None)
def test_span_ordinal_arithmetic_properties(grid, chunks_per):
    """r11 span tier invariants on arbitrary grids: cell_of_ordinal is
    the exact inverse of cell_ordinal over the whole ordinal space
    (and matches cells()' enumeration order), and the span chopper's
    ranges tile [0, n_cells) exactly once."""

    class _P:
        grid_shape = tuple(grid)

    from arrow_zarr_spark.zarr.table import ChunkPlan

    plan = _P()
    n = 1
    for g in grid:
        n *= g
    import itertools

    cells = list(itertools.product(*(range(g) for g in grid)))
    for i, cell in enumerate(cells):
        assert ChunkPlan.cell_ordinal(plan, cell) == i
        assert ChunkPlan.cell_of_ordinal(plan, i) == cell
    spans = [
        (s, min(s + chunks_per, n)) for s in range(0, n, chunks_per)
    ]
    covered = [o for s, e in spans for o in range(s, e)]
    assert covered == list(range(n))


@st.composite
def sorted_disjoint_runs(draw):
    n_cells = draw(st.integers(0, 300))
    bounds = sorted(
        draw(st.sets(st.integers(0, n_cells), max_size=24))
    )
    runs = list(zip(bounds[0::2], bounds[1::2]))
    return n_cells, runs


@given(
    grid_runs=sorted_disjoint_runs(),
    by_count=st.booleans(),
    knob=st.integers(1, 40),
    parts_max=st.integers(1, 50),
)
@settings(max_examples=200, deadline=None)
def test_pack_runs_properties(grid_runs, by_count, knob, parts_max):
    """The scan's one grouping policy (datasource._pack_runs), with
    either chunks_per or num_partitions: partitions concatenate back
    to the input ordinals in order and hold at most ``per`` cells;
    num_partitions gives exactly p ceil-sized partitions with empty
    tails; chunks_per never exceeds SPAN_PARTITIONS_MAX partitions."""
    from unittest import mock

    from arrow_zarr_spark import datasource as ds

    n_cells, runs = grid_runs
    total = sum(e - s for s, e in runs)
    with mock.patch.object(ds, "SPAN_PARTITIONS_MAX", parts_max):
        if by_count:
            parts = ds._pack_runs(runs, n_cells, n_parts=knob)
        else:
            parts = ds._pack_runs(runs, n_cells, chunks_per=knob)
    ordinals = [o for s, e in runs for o in range(s, e)]
    assert [o for p in parts for s, e in p for o in range(s, e)] == ordinals
    assert all(s < e for p in parts for s, e in p)
    sizes = [sum(e - s for s, e in p) for p in parts]
    if by_count:
        per = max(1, -(-total // knob))
        assert len(parts) == knob
        assert sizes == [
            min(per, max(0, total - i * per)) for i in range(knob)
        ]
    else:
        per = max(knob, -(-n_cells // parts_max))
        assert len(parts) <= parts_max
        assert all(n == per for n in sizes[:-1]) and sizes[-1] <= per


class _DictStore:
    """In-memory key-value store counting its SETs (the statistics
    merge only gets, sets, deletes and lists a prefix)."""

    def __init__(self):
        self.data = {}
        self.sets = []

    def get(self, key):
        return self.data.get(key)

    def set(self, key, value):
        self.sets.append(key)
        self.data[key] = value

    def delete(self, key):
        self.data.pop(key, None)

    def walk_prefix(self, prefix):
        p = prefix if prefix.endswith("/") else prefix + "/"
        return [k for k in self.data if k.startswith(p)]


def _reference_merge(grid, old_grid, axis, boundary, old, written, fill):
    """Brute force: the grid writer's former driver-side remap
    (every old cell enumerated with itertools.product, its old and new
    C-order ordinals accumulated digit by digit)."""
    import itertools

    def union(e, f):
        if not e or not f or None in e or None in f:
            return None
        return [min(e[0], f[0]), max(e[1], f[1])]

    entries = [fill] * int(np.prod(grid))
    if old_grid is not None:
        for t in itertools.product(*(range(g) for g in old_grid)):
            new_ord = old_ord = 0
            for i, gn, go in zip(t, grid, old_grid):
                new_ord = new_ord * gn + i
                old_ord = old_ord * go + i
            e = old[old_ord] if old is not None else None
            if t[axis] == boundary:
                e = union(e, fill)
            entries[new_ord] = e
    for o, pair in written.items():
        entries[o] = pair
    return entries


@st.composite
def stats_merge_cases(draw):
    ndim = draw(st.integers(1, 3))
    axis = draw(st.integers(0, ndim - 1))
    fresh = draw(st.booleans())
    old_grid = [draw(st.integers(1, 4)) for _ in range(ndim)]
    grid = list(old_grid)
    grid[axis] += draw(st.integers(0, 3))
    fill = draw(st.sampled_from([None, [-1, -1]]))
    boundary = (
        old_grid[axis] - 1
        if fill is not None and not fresh and draw(st.booleans())
        else None
    )
    n, n_old = int(np.prod(grid)), int(np.prod(old_grid))
    written = {
        o: draw(st.sampled_from([None, [o * 10, o * 10 + 5]]))
        for o in draw(st.sets(st.integers(0, n - 1), max_size=n))
    }
    old_kind = draw(st.sampled_from(["inline", "sidecar", "absent", "stale"]))
    old = [
        draw(st.sampled_from([None, [i, i + 3]])) for i in range(n_old)
    ]
    old_blk = draw(st.integers(1, 5))
    return dict(
        grid=grid, old_grid=None if fresh else old_grid, axis=axis,
        boundary=boundary, fill=fill, written=written, old=old,
        old_kind=old_kind, old_blk=old_blk,
        blk=draw(st.sampled_from([old_blk, draw(st.integers(1, 5))])),
        max_inline=draw(st.sampled_from([0, 1 << 20])),
    )


@given(case=stats_merge_cases())
@settings(max_examples=300, deadline=None)
def test_stats_merge_matches_reference(case):
    """The one statistics merge of every write verb
    (zarr/stats.py): for random 1-3-D grids grown along a random
    axis, random written cells (pairs or invalidating Nones), old
    statistics inline / in sidecar blocks (of another block size too)
    / absent / of the wrong length, and tiny block sizes, the published
    entries equal the brute-force remap; entries built block by block
    equal those built in one call; and a sidecar rewrite sets only
    blocks holding a changed slot and leaves no block past its count."""
    from arrow_zarr_spark.zarr import stats as S

    c = case
    store = _DictStore()
    saved = S.STATS_BLOCK_ENTRIES
    try:
        S.STATS_BLOCK_ENTRIES = c["old_blk"]
        n_old = len(c["old"])
        value = None
        if c["old_kind"] == "inline":
            value = list(c["old"])
        elif c["old_kind"] == "sidecar":
            value = S.store_stats(store, "a", c["old"], 0)
        elif c["old_kind"] == "stale":
            value = S.store_stats(store, "a", c["old"] + [[0, 0]], 0)
        usable = c["old_kind"] in ("inline", "sidecar")
        S.STATS_BLOCK_ENTRIES = blk = c["blk"]

        merge = S.StatsMerge(
            c["grid"], c["old_grid"], c["axis"], c["boundary"]
        )
        n = merge.n_entries
        old = S.RecordedStats(
            store, "a", value, n_old if c["old_grid"] else 0
        )
        want = _reference_merge(
            c["grid"], c["old_grid"], c["axis"], c["boundary"],
            c["old"] if usable else None, c["written"], c["fill"],
        )
        whole = S.merge_entries(merge, 0, n, c["written"], old, c["fill"])
        by_block = [
            e
            for b in range(-(-n // blk))
            for e in S.merge_entries(
                merge, b * blk, min(n, (b + 1) * blk), c["written"], old,
                c["fill"],
            )
        ]
        assert whole == by_block == want

        store.sets.clear()
        published = S.store_merged(
            store, "a", merge, c["written"], old, c["fill"],
            c["max_inline"],
        )
        assert S.resolve_stats(store, "a", published) == want
        n_blocks = 0 if isinstance(published, list) else -(-n // blk)
        assert all(
            int(k.split("/")[-1][: -len(".json")]) < n_blocks
            for k in store.walk_prefix(f"{S.STATS_SIDECAR_PREFIX}/a")
        )
        if n_blocks and c["old_kind"] == "sidecar" and c["old_blk"] == blk:
            kept_below = merge.first_changed() // blk
            for key in store.sets:
                b = int(key.split("/")[-1][: -len(".json")])
                assert b >= kept_below or any(
                    b * blk <= o < (b + 1) * blk for o in c["written"]
                )
    finally:
        S.STATS_BLOCK_ENTRIES = saved
