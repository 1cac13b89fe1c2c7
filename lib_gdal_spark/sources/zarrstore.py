"""Zarr v2 / v3 chunked-array store source and sink.

Reference semantics (studied, re-expressed — no code copied):
frmts/zarr/ (zarrv2array.cpp / zarrv3array.cpp / zarrdriver.cpp) and
the public Zarr v2 / v3 specs —

- v2: a directory per array with a .zarray JSON (shape, chunks, dtype
  NumPy codes with </>/| endianness, order C/F, fill_value — numbers
  or "NaN"/"Infinity"/"-Infinity", compressor, filters) + chunk files
  named by grid indices joined by dimension_separator ("0.0" by
  default, "0/0" with "/"); missing chunk = fill.
  Groups are directories with .zgroup; .zattrs carries attributes
  (the CF/_ARRAY_DIMENSIONS convention GDAL reads for georef).
- v2 compressors (numcodecs ids): null, zlib, gzip, lzma (stdlib);
  blosc/lz4/zstd are refused exactly like a GDAL build without those
  libs (zarr_driver.py::test_zarr_read_compression_methods).
- v2 filters, applied in reverse on read: delta (cumsum in the
  declared dtype), shuffle (byte-plane transpose of elementsize
  lanes), quantize (decode is identity — the stored floats ARE the
  quantized values), fixedscaleoffset (x = stored/scale + offset,
  rounded to the decimal precision of scale like numcodecs). A chain
  holds at most one arithmetic filter, with every shuffle outside it;
  any other chain is refused.
- v3: one zarr.json per node (node_type group/array): data_type
  names (uint8/int16/float32/...), regular chunk_grid,
  chunk_key_encoding "default" -> "c/<i>/<j>" paths (or "c.<i>.<j>"
  by separator), "v2" -> "<i>.<j>" (or "<i>/<j>"); any other
  encoding is refused. Codecs chain [bytes(endian), gzip?].

The Spark face reads one task per CHUNK (binaryFile over the store,
chunk indices parsed from the path) — the natural 100 TB layout where
every chunk decodes independently."""

from __future__ import annotations

import gzip as _gzip
import json
import lzma as _lzma
import math
import os
import zlib as _zlib

import numpy as np
import pandas as pd

_V3_DTYPES = {
    "bool": "|b1", "uint8": "|u1", "int8": "|i1", "uint16": "<u2",
    "int16": "<i2", "uint32": "<u4", "int32": "<i4", "uint64": "<u8",
    "int64": "<i8", "float16": "<f2", "float32": "<f4",
    "float64": "<f8",
}


def _decompress(blob: bytes, compressor: dict | None) -> bytes:
    if compressor is None:
        return blob
    cid = compressor.get("id") or compressor.get("name")
    if cid == "zlib":
        return _zlib.decompress(blob)
    if cid == "gzip":
        return _gzip.decompress(blob)
    if cid == "lzma":
        return _lzma.decompress(blob)
    raise ValueError(f"compressor {cid!r} not available")


def _compress(raw: bytes, compressor: dict | None) -> bytes:
    if compressor is None:
        return raw
    cid = compressor.get("id") or compressor.get("name")
    level = compressor.get("level", 6)
    if cid == "zlib":
        return _zlib.compress(raw, level)
    if cid == "gzip":
        return _gzip.compress(raw, compresslevel=level)
    if cid == "lzma":
        return _lzma.compress(raw)
    raise ValueError(f"compressor {cid!r} not available")


def _unshuffle(raw: bytes, elementsize: int) -> bytes:
    if elementsize <= 1:
        return raw
    a = np.frombuffer(raw, np.uint8)
    n = len(a) // elementsize
    return a.reshape(elementsize, n).T.tobytes()


def _shuffle(raw: bytes, elementsize: int) -> bytes:
    if elementsize <= 1:
        return raw
    a = np.frombuffer(raw, np.uint8)
    n = len(a) // elementsize
    return a.reshape(n, elementsize).T.tobytes()


_ARITH_FILTERS = ("delta", "quantize", "fixedscaleoffset")


def _apply_filters_decode(raw: bytes, filters, dtype: np.dtype):
    """-> decoded ndarray (flat) in the OUTPUT dtype.

    Supported chains: at most one arithmetic filter (delta, quantize,
    fixedscaleoffset), listed first, then any number of shuffles — i.e.
    shuffle outermost. Any other chain raises ValueError: a shuffle
    under an arithmetic filter, or two arithmetic filters, would
    otherwise decode silently wrong values."""
    filters = filters or []
    ids = [f.get("id") for f in filters]
    for fid in ids:
        if fid != "shuffle" and fid not in _ARITH_FILTERS:
            raise ValueError(f"filter {fid!r} not available")
    arith = [i for i, fid in enumerate(ids) if fid in _ARITH_FILTERS]
    if arith and arith != [0]:
        raise ValueError(
            f"filter chain {ids} not supported: at most one of "
            f"{', '.join(_ARITH_FILTERS)}, listed before any shuffle")
    # the last filter was applied last on encode -> undo in reverse
    for f in reversed(filters[1:] if arith else filters):
        raw = _unshuffle(raw, int(f.get("elementsize", 1)))
    if not arith:
        return np.frombuffer(raw, dtype)
    f = filters[0]
    fid = ids[0]
    if fid == "delta":
        enc = np.dtype(f.get("astype", f.get("dtype", dtype.str)))
        dec = np.dtype(f.get("dtype", dtype.str))
        return np.cumsum(np.frombuffer(raw, enc).astype(dec))
    if fid == "fixedscaleoffset":
        enc = np.dtype(f.get("astype", "|u1"))
        dec = np.dtype(f.get("dtype", "<f8"))
        scale = float(f["scale"])
        off = float(f["offset"])
        v = np.frombuffer(raw, enc).astype(np.float64) / scale + off
        # numcodecs rounds decode output to the scale's precision
        digits = max(0, int(round(math.log10(scale))))
        return np.round(v, digits).astype(dec)
    # quantize: decode is identity (the stored floats ARE the values)
    dec = np.dtype(f.get("dtype", "<f8"))
    return np.frombuffer(raw, np.dtype(f.get("astype", dec.str))).astype(dec)


def _parse_fill(v, dtype: np.dtype):
    if v is None:
        return None
    if isinstance(v, str):
        return {"NaN": np.nan, "Infinity": np.inf,
                "-Infinity": -np.inf}.get(v, v)
    return v


class ZarrArray:
    """Lazy chunked array over a v2 or v3 store directory."""

    def __init__(self, path: str):
        self.path = path
        v2 = os.path.join(path, ".zarray")
        v3 = os.path.join(path, "zarr.json")
        if os.path.exists(v2):
            m = json.load(open(v2))
            if m.get("zarr_format") != 2:
                raise ValueError("unsupported zarr_format")
            self.version = 2
            self.shape = tuple(m["shape"])
            self.chunks = tuple(m["chunks"])
            dt = m["dtype"]
            if isinstance(dt, list):
                raise ValueError("compound zarr dtypes not supported")
            self.dtype = np.dtype(dt)
            self.order = m.get("order", "C")
            self.compressor = m.get("compressor")
            self.filters = m.get("filters")
            self.fill = _parse_fill(m.get("fill_value"), self.dtype)
            self.sep = m.get("dimension_separator") or "."
            self.prefix = ""
        elif os.path.exists(v3):
            m = json.load(open(v3))
            if m.get("node_type") != "array":
                raise ValueError("not a zarr array node")
            self.version = 3
            self.shape = tuple(m["shape"])
            self.chunks = tuple(
                m["chunk_grid"]["configuration"]["chunk_shape"])
            dt = m["data_type"]
            if dt not in _V3_DTYPES:
                raise ValueError(f"unsupported v3 data_type {dt!r}")
            self.dtype = np.dtype(_V3_DTYPES[dt])
            self.order = "C"
            self.compressor = None
            self.filters = None
            for c in m.get("codecs", []):
                if c["name"] == "bytes":
                    if c.get("configuration", {}).get(
                            "endian", "little") == "big":
                        self.dtype = self.dtype.newbyteorder(">")
                elif c["name"] in ("gzip", "zlib"):
                    self.compressor = {"id": c["name"],
                                       **c.get("configuration", {})}
                else:
                    raise ValueError(
                        f"v3 codec {c['name']!r} not available")
            self.fill = _parse_fill(m.get("fill_value"), self.dtype)
            enc = m.get("chunk_key_encoding", {"name": "default"})
            name = enc.get("name", "default")
            if name not in ("default", "v2"):
                raise ValueError(
                    f"v3 chunk_key_encoding {name!r} not available")
            # default: "c/0/1" ("c.0.1" by separator); v2: "0.1" / "0/1"
            self.sep = enc.get("configuration", {}).get(
                "separator", "/" if name == "default" else ".")
            self.prefix = "c" if name == "default" else ""
        else:
            raise ValueError(f"no zarr array at {path}")
        if self.sep not in (".", "/"):
            raise ValueError(f"zarr chunk key separator {self.sep!r} "
                             "not available")
        self.attrs = {}
        za = os.path.join(path, ".zattrs")
        if os.path.exists(za):
            self.attrs = json.load(open(za))
        elif self.version == 3:
            self.attrs = m.get("attributes", {})
        # dimension names: v2 xarray convention vs v3 native field
        self.dims = (m.get("dimension_names") if self.version == 3
                     else self.attrs.get("_ARRAY_DIMENSIONS"))

    def chunk_key(self, idx) -> str:
        """Chunk key relative to the array directory: "0.1" or "0/1" (v2
        and v3's v2 encoding), "c/0/1" or "c.0.1" (v3 default encoding),
        by separator; "/" in it is a subdirectory."""
        head = [self.prefix] if self.prefix else []
        return self.sep.join(head + [str(i) for i in idx])

    def chunk_path(self, idx) -> str:
        return os.path.join(self.path, *self.chunk_key(idx).split("/"))

    def decode_chunk(self, blob: bytes) -> np.ndarray:
        raw = _decompress(blob, self.compressor)
        arr = _apply_filters_decode(raw, self.filters, self.dtype)
        n = int(np.prod(self.chunks))
        arr = arr[:n].reshape(self.chunks, order=self.order)
        return arr

    def read(self) -> np.ndarray:
        fill = self.fill if self.fill is not None else 0
        if isinstance(fill, str):
            out = np.full(self.shape, fill, dtype=object)
        else:
            out = np.full(self.shape, fill,
                          dtype=self.dtype.newbyteorder("="))
        grid = [range((s + c - 1) // c)
                for s, c in zip(self.shape, self.chunks)]
        import itertools

        for idx in itertools.product(*grid):
            p = self.chunk_path(idx)
            if not os.path.exists(p):
                continue
            chunk = self.decode_chunk(open(p, "rb").read())
            sl = tuple(slice(i * c, min((i + 1) * c, s))
                       for i, c, s in zip(idx, self.chunks,
                                          self.shape))
            sub = chunk[tuple(slice(0, x.stop - x.start)
                              for x in sl)]
            if self.dtype.kind == "S":
                out[sl] = sub
            else:
                out[sl] = sub
        if self.dtype.kind == "S":
            return np.vectorize(
                lambda b: b.decode("ascii", "replace")
                if isinstance(b, bytes) else b)(out)
        return out


def list_arrays(store: str):
    """Store root -> array subdirectory names (v2 .zgroup / v3 group
    zarr.json layouts); a bare array store lists itself as ''. """
    if (os.path.exists(os.path.join(store, ".zarray"))
            or _is_v3_array(store)):
        return [""]
    out = []
    for name in sorted(os.listdir(store)):
        sub = os.path.join(store, name)
        if not os.path.isdir(sub):
            continue
        if os.path.exists(os.path.join(sub, ".zarray")) \
                or _is_v3_array(sub):
            out.append(name)
    return out


def _is_v3_array(path: str) -> bool:
    p = os.path.join(path, "zarr.json")
    if not os.path.exists(p):
        return False
    try:
        return json.load(open(p)).get("node_type") == "array"
    except (ValueError, OSError):
        return False


def read_zarr_array(path: str):
    a = ZarrArray(path)
    return a.read(), {"shape": a.shape, "chunks": a.chunks,
                     "dtype": a.dtype.str, "order": a.order,
                     "version": a.version, "attrs": a.attrs,
                     "dims": a.dims, "fill": a.fill}


def write_zarr_array(path: str, arr: np.ndarray, chunks=None,
                     compressor: dict | None = None,
                     fill_value=None, attrs: dict | None = None) -> str:
    """v2 writer: .zarray + chunk files (C order, little-endian)."""
    os.makedirs(path, exist_ok=True)
    arr = np.asarray(arr)
    if chunks is None:
        chunks = arr.shape
    chunks = tuple(int(c) for c in chunks)
    dt = arr.dtype.newbyteorder("<") if arr.dtype.itemsize > 1 \
        else arr.dtype
    meta = {"chunks": list(chunks), "compressor": compressor,
            "dtype": dt.str, "fill_value": fill_value,
            "filters": None, "order": "C",
            "shape": list(arr.shape), "zarr_format": 2}
    json.dump(meta, open(os.path.join(path, ".zarray"), "w"),
              indent=4)
    if attrs:
        json.dump(attrs, open(os.path.join(path, ".zattrs"), "w"),
                  indent=4)
    import itertools

    grid = [range((s + c - 1) // c)
            for s, c in zip(arr.shape, chunks)]
    for idx in itertools.product(*grid):
        sl = tuple(slice(i * c, min((i + 1) * c, s))
                   for i, c, s in zip(idx, chunks, arr.shape))
        block = np.zeros(chunks, dt)
        sub = arr[sl]
        block[tuple(slice(0, x.stop - x.start) for x in sl)] = sub
        open(os.path.join(path, ".".join(str(i) for i in idx)),
             "wb").write(_compress(block.astype(dt).tobytes(),
                                   compressor))
    return path


def read_zarr_cells(spark, path: str, array: str | None = None):
    """2D array -> (bx, by, value) DataFrame, ONE TASK PER CHUNK
    (binaryFile listing of the chunk files; fill-valued cells and
    missing chunks are absent rows, `by` increases upward)."""
    from ..session import ship_package

    ship_package(spark)
    if array is None:
        names = [n for n in list_arrays(path) if n]
        array = names[0] if names else ""
    apath = os.path.join(path, array) if array else path
    a = ZarrArray(apath)
    if len(a.shape) != 2:
        raise ValueError("read_zarr_cells needs a 2D array")
    meta = {"shape": a.shape, "chunks": a.chunks, "dtype": a.dtype.str,
            "attrs": a.attrs, "version": a.version}
    h, w = a.shape
    ch, cw = a.chunks
    pattern = a.chunk_key(("*", "*"))
    depth = pattern.count("/") + 1
    files = (spark.read.format("binaryFile")
             .load(os.path.join(apath, *pattern.split("/")))
             .select("path", "content"))
    sep, prefix = a.sep, a.prefix

    def decode(batches):
        for pdf in batches:
            frames = []
            for pth, blob in zip(pdf["path"], pdf["content"]):
                parts = "/".join(pth.split("/")[-depth:]).split(sep)
                if prefix:
                    parts = parts[1:]
                if len(parts) != 2 or not all(q.isdigit() for q in parts):
                    continue  # a metadata file the glob also matched
                iy, ix = int(parts[0]), int(parts[1])
                chunk = a.decode_chunk(bytes(blob)).astype(np.float64)
                th = min(ch, h - iy * ch)
                tw = min(cw, w - ix * cw)
                sub = chunk[:th, :tw]
                yy, xx = np.mgrid[0:th, 0:tw]
                keep = np.ones(sub.shape, bool)
                if a.fill is not None and not (
                        isinstance(a.fill, float)
                        and np.isnan(a.fill)):
                    keep = sub != a.fill
                elif isinstance(a.fill, float) and np.isnan(a.fill):
                    keep = ~np.isnan(sub)
                frames.append(pd.DataFrame({
                    "bx": (ix * cw + xx[keep]).astype(np.int64),
                    "by": (h - 1 - (iy * ch + yy[keep]))
                    .astype(np.int64),
                    "value": sub[keep]}))
            yield (pd.concat(frames, ignore_index=True) if frames
                   else pd.DataFrame({"bx": [], "by": [],
                                      "value": []}))

    return (files.mapInPandas(decode,
                              "bx long, by long, value double"),
            meta)


def read_zarr_raster(store: str, array: str | None = None):
    """CF-aware 2D raster read (the netcdf source's bottom-up rule):
    when the array's _ARRAY_DIMENSIONS name coordinate arrays and the
    y coordinate ASCENDS, the grid is stored bottom-up — flip to
    north-up and derive the geotransform from the cell-center
    coordinates (byte_cf1 replays byte.tif's checksum 4672 and its
    exact geotransform)."""
    if array is None:
        cands = [n for n in list_arrays(store) if n]
        dims_named = set()
        for n in cands:
            try:
                a0 = ZarrArray(os.path.join(store, n))
            except ValueError:
                continue
            dims_named.update(a0.dims or [])
        main = [n for n in cands if n not in dims_named
                and len(ZarrArray(os.path.join(store, n)).shape) == 2]
        array = main[0] if main else (cands[0] if cands else "")
    vals, meta = read_zarr_array(os.path.join(store, array)
                                 if array else store)
    gt = None
    dims = meta["dims"]
    if dims and len(dims) == 2:
        try:
            yv, _ = read_zarr_array(os.path.join(store, dims[0]))
            xv, _ = read_zarr_array(os.path.join(store, dims[1]))
            dx = float(xv[1] - xv[0]) if len(xv) > 1 else 1.0
            dy = float(yv[1] - yv[0]) if len(yv) > 1 else 1.0
            if dy > 0:  # ascending y = bottom-up storage
                vals = vals[::-1]
                gt = (float(xv[0]) - dx / 2, dx, 0.0,
                      float(yv[-1]) + dy / 2, 0.0, -dy)
            else:
                gt = (float(xv[0]) - dx / 2, dx, 0.0,
                      float(yv[0]) - dy / 2, 0.0, dy)
        except ValueError:
            pass
    meta = dict(meta)
    meta["gt"] = gt
    meta["array"] = array
    return vals, meta
