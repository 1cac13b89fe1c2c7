"""Zarr v2/v3 store codec (sources/zarrstore.py) vs the reference's
own autotest expectations (autotest/gdrivers/zarr_driver.py): the
compressor matrix ([1,2] through gzip/zlib/lzma, blosc refused), the
filter ladder (shuffle, delta, quantize, fixedscaleoffset goldens),
Fortran order, half-float endianness, fixed-width strings, the v3
gzip store, and byte_cf1's CF bottom-up raster (cs 4672 with
byte.tif's exact geotransform) in both zarr versions."""

import numpy as np
import pytest

from lib_gdal_spark.operators import raster
from lib_gdal_spark.sources import zarrstore as Z

ZD = "/root/reference/autotest/gdrivers/data/zarr"


def _cs(vals):
    primes = np.array(raster.CHECKSUM_PRIMES, np.int64)
    h, w = vals.shape
    iv = np.clip(np.floor(vals.astype(np.float64) + 0.5),
                 -2147483647, 2147483647).astype(np.int64)
    return int(np.fmod(iv.ravel(),
                       primes[np.arange(h * w) % 11]).sum()) & 0xFFFF


def _read(name):
    sub = Z.list_arrays(f"{ZD}/{name}")[0]
    p = f"{ZD}/{name}/{sub}" if sub else f"{ZD}/{name}"
    return Z.read_zarr_array(p)


@pytest.mark.parametrize("name", ["gzip.zarr", "zlib.zarr",
                                  "lzma.zarr",
                                  "lzma_with_filters.zarr"])
def test_compressors(name):
    a, meta = _read(name)
    assert a.tolist() == [1, 2]


@pytest.mark.parametrize("name", ["blosc.zarr", "lz4.zarr",
                                  "zstd.zarr"])
def test_unavailable_compressors_refused(name):
    with pytest.raises(ValueError, match="not available"):
        _read(name)


def test_shuffle_filter():
    a, _ = _read("shuffle.zarr")
    assert a.tolist() == [1, 2]


def test_delta_filter():
    a, _ = _read("delta_filter_i4.zarr")
    assert a.tolist() == list(range(len(a)))


def test_fixedscaleoffset():
    a, _ = _read("fixedscaleoffset_dtype_f8_astype_u1.zarr")
    assert a.tolist() == [1000.0, 1000.1, 1000.2, 1000.3, 1000.4,
                          1000.6, 1000.7, 1000.8, 1000.9, 1001.0]


def test_quantize():
    a, _ = _read("quantize.zarr")
    assert a[0].tolist() == [0, 0.125, 0.1875, 0.3125, 0.375, 0.5,
                             0.625, 0.6875, 0.8125, 0.875]


@pytest.mark.parametrize("name", ["f2_le.zarr", "f2_be.zarr"])
def test_half_float(name):
    a, _ = _read(name)
    assert a[0] == 1.5 and np.isnan(float(a[1]))


@pytest.mark.parametrize("name,n", [("order_f_u1.zarr", 16),
                                    ("order_f_u2.zarr", 16),
                                    ("order_f_u4.zarr", 16),
                                    ("order_f_u8.zarr", 16),
                                    ("order_f_u1_3d.zarr", 24)])
def test_fortran_order(name, n):
    a, _ = _read(name)
    assert np.asarray(a).astype(int).ravel(order="C").tolist() == \
        list(range(n))


def test_fortran_order_strings():
    a, _ = _read("order_f_s3.zarr")
    assert np.asarray(a).ravel(order="C").tolist() == [
        "000", "111", "222", "333", "444", "555", "666", "777",
        "888", "999", "AAA", "BBB", "CCC", "DDD", "EEE", "FFF"]


def test_v3_gzip():
    a, meta = Z.read_zarr_array(f"{ZD}/v3/gzip.zarr/gzip")
    assert meta["version"] == 3
    assert a.tolist() == [[1, 2]]


BYTE_GT = (440720.0, 60.0, 0.0, 3751320.0, 0.0, -60.0)


def test_byte_cf1_v2_raster():
    vals, meta = Z.read_zarr_raster(f"{ZD}/byte_cf1.zarr")
    assert meta["array"] == "Band1"
    assert _cs(vals) == 4672
    assert meta["gt"] == BYTE_GT


def test_byte_cf1_v3_raster():
    vals, meta = Z.read_zarr_raster(f"{ZD}/byte_cf1.zr3")
    assert meta["version"] == 3
    assert _cs(vals) == 4672
    assert meta["gt"] == BYTE_GT


def test_write_roundtrip(tmp_path):
    rng = np.random.RandomState(3)
    arr = rng.randint(0, 1000, (25, 33)).astype(np.int32)
    p = str(tmp_path / "rt.zarr")
    Z.write_zarr_array(p, arr, chunks=(10, 16),
                       compressor={"id": "zlib", "level": 6},
                       fill_value=0)
    back, meta = Z.read_zarr_array(p)
    assert np.array_equal(back, arr)
    assert meta["chunks"] == (10, 16)


def test_spark_cells_chunked(spark, tmp_path):
    rng = np.random.RandomState(5)
    arr = rng.randint(1, 255, (30, 40)).astype(np.uint8)
    arr[3, 5] = 0  # fill-valued cell -> absent row
    p = str(tmp_path / "cells.zarr")
    Z.write_zarr_array(p, arr, chunks=(16, 16),
                       compressor={"id": "gzip", "level": 1},
                       fill_value=0)
    df, meta = Z.read_zarr_cells(spark, p)
    rows = df.collect()
    assert len(rows) == 30 * 40 - 1
    got = {(r.bx, r.by): r.value for r in rows}
    assert got[(0, 29)] == float(arr[0, 0])  # by increases upward
    assert (5, 26) not in got  # the fill cell


def _move_chunks(path, key):
    """Rename the "iy.ix" chunk files write_zarr_array wrote to key(iy, ix)
    ("/" in a key is a subdirectory)."""
    import os

    for name in os.listdir(path):
        if name.startswith("."):
            continue
        iy, ix = name.split(".")
        dst = os.path.join(path, *key(iy, ix).split("/"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(os.path.join(path, name), dst)


def _v2_to_v3(path, sep, encoding="default", configured=True):
    """Rewrite a v2 store from write_zarr_array (uint8, gzip) as a v3
    array with chunk key encoding `encoding` and separator `sep`
    (configured=False leaves the separator to the encoding's default)."""
    import json
    import os

    meta = json.load(open(os.path.join(path, ".zarray")))
    os.remove(os.path.join(path, ".zarray"))
    head = [] if encoding == "v2" else ["c"]
    _move_chunks(path, lambda iy, ix: sep.join(head + [iy, ix]))
    enc = {"name": encoding}
    if configured:
        enc["configuration"] = {"separator": sep}
    json.dump({
        "zarr_format": 3, "node_type": "array", "shape": meta["shape"],
        "data_type": "uint8", "fill_value": meta["fill_value"],
        "chunk_grid": {"name": "regular", "configuration": {
            "chunk_shape": meta["chunks"]}},
        "chunk_key_encoding": enc,
        "codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
                   {"name": "gzip", "configuration": {"level": 1}}],
    }, open(os.path.join(path, "zarr.json"), "w"))


def _check_store(spark, p, arr, version):
    """read_zarr_array and read_zarr_cells both give back `arr`."""
    back, meta = Z.read_zarr_array(p)
    assert meta["version"] == version
    assert np.array_equal(back, arr)
    df, _ = Z.read_zarr_cells(spark, p)
    got = {(r.bx, r.by): r.value for r in df.collect()}
    h = arr.shape[0]
    want = {(int(x), h - 1 - int(y)): float(arr[y, x])
            for y, x in zip(*np.nonzero(arr))}
    assert got == want


def _chunked_store(tmp_path, seed):
    rng = np.random.RandomState(seed)
    arr = rng.randint(1, 255, (20, 30)).astype(np.uint8)
    arr[4, 9] = 0
    p = str(tmp_path / "store.zarr")
    Z.write_zarr_array(p, arr, chunks=(8, 16),
                       compressor={"id": "gzip", "level": 1},
                       fill_value=0)
    return p, arr


def test_v2_dimension_separator(spark, tmp_path):
    # .zarray's dimension_separator "/" keys chunks 0/1: read every chunk,
    # never all fill or an empty frame
    import json
    import os

    p, arr = _chunked_store(tmp_path, 11)
    zpath = os.path.join(p, ".zarray")
    meta = json.load(open(zpath))
    meta["dimension_separator"] = "/"
    json.dump(meta, open(zpath, "w"))
    _move_chunks(p, lambda iy, ix: f"{iy}/{ix}")
    _check_store(spark, p, arr, 2)


@pytest.mark.parametrize("sep,configured", [(".", False), ("/", True)])
def test_v3_v2_chunk_key_encoding(spark, tmp_path, sep, configured):
    # the v3 "v2" encoding has no "c" prefix and defaults to "."
    p, arr = _chunked_store(tmp_path, 13)
    _v2_to_v3(p, sep, encoding="v2", configured=configured)
    _check_store(spark, p, arr, 3)


def test_v3_unknown_chunk_key_encoding_refused(tmp_path):
    p, _ = _chunked_store(tmp_path, 17)
    _v2_to_v3(p, "/", encoding="hashed")
    with pytest.raises(ValueError, match="chunk_key_encoding"):
        Z.read_zarr_array(p)


@pytest.mark.parametrize("sep", ["/", "."])
def test_spark_cells_v3_separator(spark, tmp_path, sep):
    # a v3 store keys its chunks c/0/1 or, with the "." separator, c.0.1:
    # both layouts must read back every chunk, never an empty frame
    p, arr = _chunked_store(tmp_path, 7)
    _v2_to_v3(p, sep)
    _check_store(spark, p, arr, 3)


def _i4_filters(*chain):
    return [{"id": "shuffle", "elementsize": 4} if f == "shuffle"
            else {"id": f, "dtype": "<i4"} for f in chain]


def test_delta_then_shuffle_decodes():
    # encode order [delta, shuffle]: shuffle is outermost, undone first
    arr = np.array([3, 5, 4, 10, 7, 7], np.int32)
    enc = np.diff(arr, prepend=np.int32(0)).astype("<i4").tobytes()
    raw = Z._shuffle(enc, 4)
    out = Z._apply_filters_decode(raw, _i4_filters("delta", "shuffle"),
                                  np.dtype("<i4"))
    assert out.tolist() == arr.tolist()


@pytest.mark.parametrize("chain", [("shuffle", "delta"),
                                   ("delta", "delta"),
                                   ("delta", "shuffle", "quantize")])
def test_unsupported_filter_chain_refused(tmp_path, chain):
    # a shuffle under an arithmetic filter, or two arithmetic filters,
    # used to decode silently wrong values
    import json
    import os

    p, _ = _chunked_store(tmp_path, 19)
    zpath = os.path.join(p, ".zarray")
    meta = json.load(open(zpath))
    meta["filters"] = _i4_filters(*chain)
    json.dump(meta, open(zpath, "w"))
    with pytest.raises(ValueError, match="filter chain"):
        Z.read_zarr_array(p)


def test_unknown_filter_behind_arithmetic_refused():
    filters = [{"id": "bitround"}] + _i4_filters("delta")
    with pytest.raises(ValueError, match="not available"):
        Z._apply_filters_decode(b"\0" * 8, filters, np.dtype("<i4"))
