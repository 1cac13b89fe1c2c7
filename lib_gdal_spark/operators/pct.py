"""rgb2pct / pct2rgb — median-cut palette computation and RGB<->palette
mapping (alg/gdalmediancut.cpp GDALComputeMedianCutPCT, alg/gdaldither.cpp
GDALDitherRGB2PCT with nBits=5 and the prebuilt 32^3 nearest-color LUT).

Spark-first decomposition:

- ``median_cut_pct``: the ONLY data-sized stage is the color histogram,
  which is a plain groupBy().count() over the 5-bit-quantized color code
  (<= 32768 groups regardless of input size, map-side combinable). The
  box-splitting loop then runs driver-side over that constant-size
  histogram — n_colors * 32^3 integer ops, independent of data scale —
  exactly like the reference's own two-phase design (it also builds the
  histogram first, then splits boxes without touching pixels again:
  gdalmediancut.cpp:437-535).
- ``rgb2pct(dither=False)``: nearest-palette mapping through the same
  quantized 32^3 LUT the reference builds (gdaldither.cpp:692-717,
  FindNearestColor); the LUT is a 32768-row broadcast join key — pure
  JVM, no Python in the hot path, scales to any pixel count.
- ``rgb2pct(dither=True)``: Floyd-Steinberg error diffusion is
  intrinsically a sequential scanline recurrence (every pixel depends on
  its left neighbor and the previous line — the reference runs one
  scanline loop, gdaldither.cpp:328-565). The distributed axis is
  per-IMAGE: groupBy(image_id).applyInPandas, each image dithered by the
  exact transliterated kernel. Replays the reference's own autotest
  checksums (rgbsmall 8803, small_world 14890).
- ``pct2rgb``: palette expansion, pure Column ``element_at``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


# ---------------------------------------------------------------------------
# median cut (driver-side over the collected constant-size histogram)
# ---------------------------------------------------------------------------

class _Box:
    __slots__ = ("rmin", "rmax", "gmin", "gmax", "bmin", "bmax", "total")

    def __init__(self, rmin, rmax, gmin, gmax, bmin, bmax, total):
        self.rmin, self.rmax = rmin, rmax
        self.gmin, self.gmax = gmin, gmax
        self.bmin, self.bmax = bmin, bmax
        self.total = total


def _shrink(box: _Box, H: np.ndarray) -> None:
    """Tighten box bounds to occupied histogram cells
    (gdalmediancut.cpp shrinkbox semantics)."""
    sub = H[box.rmin:box.rmax + 1, box.gmin:box.gmax + 1,
            box.bmin:box.bmax + 1]
    for ax, (mn, mx) in enumerate((("rmin", "rmax"), ("gmin", "gmax"),
                                   ("bmin", "bmax"))):
        marg = sub.sum(axis=tuple(a for a in range(3) if a != ax))
        nz = np.nonzero(marg)[0]
        if len(nz):
            base = getattr(box, mn)
            setattr(box, mx, base + int(nz[-1]))
            setattr(box, mn, base + int(nz[0]))


def _split(box: _Box, H: np.ndarray, boxes: list) -> None:
    """Split `box` at the median along its longest axis; the new (lower)
    half is PREPENDED to `boxes` — the reference links new_cb at the head
    of usedboxes (gdalmediancut.cpp:997-1004), and the final palette
    order walks that list, so list order IS palette order."""
    rext = box.rmax - box.rmin
    gext = box.gmax - box.gmin
    bext = box.bmax - box.bmin
    if rext >= gext and rext >= bext:
        axis = 0
    elif gext >= bext:
        axis = 1
    else:
        axis = 2
    sub = H[box.rmin:box.rmax + 1, box.gmin:box.gmax + 1,
            box.bmin:box.bmax + 1]
    marg = sub.sum(axis=tuple(a for a in range(3) if a != axis))
    lo = (box.rmin, box.gmin, box.bmin)[axis]
    hi = (box.rmax, box.gmax, box.bmax)[axis]
    # median point: first index where the cumulative count reaches
    # total/2 (integer), never at `lo` itself (:984-994)
    half = box.total // 2
    s = 0
    i = lo
    while i <= hi:
        s += int(marg[i - lo])
        if s >= half:
            break
        i += 1
    if i == lo:
        i += 1
    left_total = int(marg[: i - lo].sum())
    new = _Box(box.rmin, box.rmax, box.gmin, box.gmax, box.bmin, box.bmax,
               left_total)
    box.total = box.total - left_total
    if axis == 0:
        new.rmax, box.rmin = i - 1, i
    elif axis == 1:
        new.gmax, box.gmin = i - 1, i
    else:
        new.bmax, box.bmin = i - 1, i
    boxes.insert(0, new)
    _shrink(new, H)
    _shrink(box, H)


def median_cut_palette(hist: np.ndarray, n_colors: int,
                       bits: int = 5) -> list[tuple[int, int, int]]:
    """Heckbert median cut over a (2^bits)^3 histogram cube -> palette of
    up to n_colors (r, g, b) byte triples, bit-exact to
    GDALComputeMedianCutPCT (box order, tie-breaks, final color =
    ((min+max) << shift) / 2)."""
    shift = 8 - bits
    nz = np.nonzero(hist)
    if len(nz[0]) == 0:
        return []
    box0 = _Box(int(nz[0].min()), int(nz[0].max()),
                int(nz[1].min()), int(nz[1].max()),
                int(nz[2].min()), int(nz[2].max()),
                int(hist.sum()))
    boxes = [box0]
    while len(boxes) < n_colors:
        # largest splittable box: strictly greater total wins, walking
        # from the list head (gdalmediancut.cpp largest_box :576-589)
        best = None
        for b in boxes:
            if (b.rmax > b.rmin or b.gmax > b.gmin or b.bmax > b.bmin) \
                    and (best is None or b.total > best.total):
                best = b
        if best is None:
            break
        _split(best, H=hist, boxes=boxes)
    return [((((b.rmin + b.rmax) << shift) // 2),
             (((b.gmin + b.gmax) << shift) // 2),
             (((b.bmin + b.bmax) << shift) // 2)) for b in boxes]


def color_histogram(cells: DataFrame, bits: int = 5) -> np.ndarray:
    """Distributed 2^bits-level color histogram of a (.., vals array<3>)
    frame. The groupBy key space is <= 32768 regardless of row count
    (map-side combine does the heavy lifting); the collect is
    constant-size."""
    n = 1 << bits
    shift = 8 - bits
    code = ((F.col("vals")[0].cast("int") / (1 << shift)).cast("int") * n * n
            + (F.col("vals")[1].cast("int") / (1 << shift)).cast("int") * n
            + (F.col("vals")[2].cast("int") / (1 << shift)).cast("int"))
    rows = cells.groupBy(code.alias("code")).count().collect()
    H = np.zeros(n * n * n, np.int64)
    for r in rows:
        H[r["code"]] = r["count"]
    return H.reshape(n, n, n)


def median_cut_pct(cells: DataFrame, n_colors: int,
                   bits: int = 5) -> list[tuple[int, int, int]]:
    """GDALComputeMedianCutPCT over a distributed (bx, by, vals) frame."""
    return median_cut_palette(color_histogram(cells, bits), n_colors, bits)


# ---------------------------------------------------------------------------
# nearest-color LUT (gdaldither.cpp FindNearestColor :692-717)
# ---------------------------------------------------------------------------

def nearest_lut(palette, bits: int = 5) -> np.ndarray:
    """(2^bits)^3 -> palette index LUT: each quantized cell is
    represented by (i*255)/(levels-1) per channel and mapped to the
    first palette entry minimizing the L1 color distance."""
    n = 1 << bits
    pal = np.asarray(palette, np.int64)  # (k, 3)
    reps = (np.arange(n, dtype=np.int64) * 255) // (n - 1)
    rr, gg, bb = np.meshgrid(reps, reps, reps, indexing="ij")
    pts = np.stack([rr, gg, bb], axis=-1).reshape(-1, 1, 3)
    dist = np.abs(pts - pal.reshape(1, -1, 3)).sum(axis=2)
    # np.argmin returns the FIRST minimizing index — same first-wins
    # tie-break as the reference's strict-< scan
    return dist.argmin(axis=1).astype(np.int64).reshape(n, n, n)


# ---------------------------------------------------------------------------
# rgb2pct
# ---------------------------------------------------------------------------

def rgb2pct(cells: DataFrame, palette, dither: bool = False,
            bits: int = 5, image_col: str | None = None) -> DataFrame:
    """Map (bx, by, vals array<3>) RGB cells to palette indices.

    dither=False: quantized nearest-color LUT mapping — a 32768-row
    broadcast equi-join, fully JVM-side (this is exactly the reference's
    non-dither path through the prebuilt pabyColorMap,
    gdaldither.cpp:480-488).

    dither=True: the reference's Floyd-Steinberg variant (error split
    /6: 2/6 right, 1/6 below-left, 1/6 below-right as assignment, the
    truncation remainder below; gdaldither.cpp:379-553), an inherently
    sequential scanline recurrence. Parallelism is per image: pass
    image_col to dither many images concurrently.
    """
    n = 1 << bits
    shift = 8 - bits
    lut = nearest_lut(palette, bits)
    if not dither:
        spark = cells.sparkSession
        flat = lut.ravel()
        lut_df = spark.createDataFrame(pd.DataFrame(
            {"code": np.arange(len(flat)), "pct_idx": flat}), "code int, pct_idx int")
        code = ((F.col("vals")[0].cast("int") / (1 << shift))
                .cast("int") * n * n
                + (F.col("vals")[1].cast("int") / (1 << shift))
                .cast("int") * n
                + (F.col("vals")[2].cast("int") / (1 << shift))
                .cast("int"))
        keep = [c for c in cells.columns if c != "vals"]
        return (cells.withColumn("code", code.cast("int"))
                .join(F.broadcast(lut_df), "code")
                .select(*keep, "pct_idx"))

    pal = [tuple(int(v) for v in p) for p in palette]
    from ..session import ship_package

    ship_package(cells.sparkSession)
    gcols = [image_col] if image_col else []
    src = cells if image_col else cells.withColumn("_img", F.lit(0))
    gkey = image_col or "_img"
    out_schema = (f"{gkey} long, " if image_col else "") + \
        "bx long, by long, pct_idx long"

    def run(pdf):
        import pandas as pd

        h = int(pdf["by"].max()) + 1
        w = int(pdf["bx"].max()) + 1
        img = np.zeros((h, w, 3), np.int64)
        # by increases upward; scanline 0 is the TOP row (max by)
        yy = (h - 1 - pdf["by"].to_numpy()).astype(np.int64)
        xx = pdf["bx"].to_numpy().astype(np.int64)
        img[yy, xx] = np.stack(pdf["vals"].to_numpy()).astype(np.int64)
        out = _dither_kernel(img, lut, pal, bits)
        res = pd.DataFrame({
            "bx": xx, "by": pdf["by"].to_numpy(),
            "pct_idx": out[yy, xx],
        })
        if image_col:
            res.insert(0, gkey, pdf[gkey].to_numpy())
        return res

    res = src.groupBy(gkey).applyInPandas(run, out_schema)
    return res if image_col else res


def _dither_kernel(img: np.ndarray, lut: np.ndarray, pal,
                   bits: int = 5) -> np.ndarray:
    """Exact scanline transliteration of GDALDitherRGB2PCTInternal
    (bDither path). img: (h, w, 3) ints, scanline 0 first."""
    n = 1 << bits
    h, w, _ = img.shape
    out = np.zeros((h, w), np.int64)
    err = [0] * ((w + 2) * 3)  # panError, index shifted +3 like the ref
    pr = [p[0] for p in pal]
    pg = [p[1] for p in pal]
    pb = [p[2] for p in pal]
    for y in range(h):
        line = img[y]
        red = np.clip(line[:, 0] + np.asarray(err[3:3 + w * 3:3]), 0, 255)
        grn = np.clip(line[:, 1] + np.asarray(err[4:4 + w * 3:3]), 0, 255)
        blu = np.clip(line[:, 2] + np.asarray(err[5:5 + w * 3:3]), 0, 255)
        err = [0] * ((w + 2) * 3)
        lr = lg = lb = 0
        for i in range(w):
            rv = min(255, max(0, int(red[i]) + lr))
            gv = min(255, max(0, int(grn[i]) + lg))
            bv = min(255, max(0, int(blu[i]) + lb))
            idx = int(lut[rv * n // 256, gv * n // 256, bv * n // 256])
            out[y, i] = idx
            # C integer division truncates toward zero
            e = rv - pr[idx]
            s = -((-e) // 6) if e < 0 else e // 6
            err[i * 3] += s
            err[i * 3 + 6] = s
            err[i * 3 + 3] += e - 5 * s
            lr = 2 * s
            e = gv - pg[idx]
            s = -((-e) // 6) if e < 0 else e // 6
            err[i * 3 + 1] += s
            err[i * 3 + 6 + 1] = s
            err[i * 3 + 3 + 1] += e - 5 * s
            lg = 2 * s
            e = bv - pb[idx]
            s = -((-e) // 6) if e < 0 else e // 6
            err[i * 3 + 2] += s
            err[i * 3 + 6 + 2] = s
            err[i * 3 + 3 + 2] += e - 5 * s
            lb = 2 * s
    return out


# ---------------------------------------------------------------------------
# pct2rgb
# ---------------------------------------------------------------------------

def pct2rgb(indexed: DataFrame, palette,
             idx_col: str = "pct_idx") -> DataFrame:
    """Expand palette indices back to RGB columns (the pct2rgb utility):
    pure Column element_at over array literals — no shuffle, no Python."""
    rs = F.array(*[F.lit(int(p[0])) for p in palette])
    gs = F.array(*[F.lit(int(p[1])) for p in palette])
    bs = F.array(*[F.lit(int(p[2])) for p in palette])
    i = (F.col(idx_col) + 1).cast("int")
    return (indexed
            .withColumn("red", F.element_at(rs, i))
            .withColumn("green", F.element_at(gs, i))
            .withColumn("blue", F.element_at(bs, i)))
