"""64-bit z-order (Morton) cell ids — the engine's H3/S2-style cell index.

The reference indexes space with quadtrees (.qix sidecars, alg/gdalgrid.cpp
quadtree search), packed Hilbert R-trees
(ogr/ogrsf_frmts/flatgeobuf/packedrtree.h:120) and SQLite R-trees
(ogr/ogrsf_frmts/gpkg/ogrgeopackagetablelayer.cpp:1659). A cell id packs
(tile_x, tile_y, zoom) into a single int64 whose z-order preserves
locality, and whose parent cell is a constant-time bit-shift of a child.

Layout (id is a non-negative int64):
    bits 58..62 : zoom (0..29)
    bits  0..57 : Morton interleave of (x, y), x at even bit positions

Pure NumPy-vectorized functions: the kernels of the ``cell_id`` and
``cell_parent`` SQL functions (functions/__init__.py). The spatial join
keys on the tile pair itself (operators/sjoin.py), not on a cell id.
"""

from __future__ import annotations

import numpy as np

_MASKS = (
    (16, np.uint64(0x0000FFFF0000FFFF)),
    (8, np.uint64(0x00FF00FF00FF00FF)),
    (4, np.uint64(0x0F0F0F0F0F0F0F0F)),
    (2, np.uint64(0x3333333333333333)),
    (1, np.uint64(0x5555555555555555)),
)

ZOOM_SHIFT = 58
MAX_ZOOM = 29


def _spread_np(v: np.ndarray) -> np.ndarray:
    """Spread the low 29 bits of v so bit i lands at position 2*i."""
    v = v.astype(np.uint64) & np.uint64((1 << 29) - 1)
    for shift, mask in _MASKS:
        v = (v | (v << np.uint64(shift))) & mask
    return v


_COMPACT_STEPS = (
    (1, np.uint64(0x3333333333333333)),
    (2, np.uint64(0x0F0F0F0F0F0F0F0F)),
    (4, np.uint64(0x00FF00FF00FF00FF)),
    (8, np.uint64(0x0000FFFF0000FFFF)),
    (16, np.uint64(0x00000000FFFFFFFF)),
)


def _compact_np(v: np.ndarray) -> np.ndarray:
    """Inverse of _spread_np: gather even-position bits back together."""
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    for shift, mask in _COMPACT_STEPS:
        v = (v | (v >> np.uint64(shift))) & mask
    return v


def cell_encode_np(x: np.ndarray, y: np.ndarray, zoom: int) -> np.ndarray:
    """(tile_x, tile_y, zoom) -> int64 cell id."""
    assert 0 <= zoom <= MAX_ZOOM
    morton = _spread_np(np.asarray(x)) | (_spread_np(np.asarray(y)) << np.uint64(1))
    return (morton | (np.uint64(zoom) << np.uint64(ZOOM_SHIFT))).astype(np.int64)


def cell_decode_np(cell: np.ndarray):
    """int64 cell id -> (x, y, zoom)."""
    c = np.asarray(cell).astype(np.uint64)
    zoom = (c >> np.uint64(ZOOM_SHIFT)).astype(np.int64)
    morton = c & np.uint64((1 << ZOOM_SHIFT) - 1)
    x = _compact_np(morton).astype(np.int64)
    y = _compact_np(morton >> np.uint64(1)).astype(np.int64)
    return x, y, zoom


def cell_parent_np(cell: np.ndarray, steps: int = 1) -> np.ndarray:
    """Parent cell `steps` zoom levels up: drop 2 morton bits per step."""
    c = np.asarray(cell).astype(np.uint64)
    zoom = (c >> np.uint64(ZOOM_SHIFT)).astype(np.int64)
    morton = c & np.uint64((1 << ZOOM_SHIFT) - 1)
    nz = zoom - steps
    if np.any(nz < 0):
        raise ValueError("parent below zoom 0")
    return (
        (morton >> np.uint64(2 * steps)) | (nz.astype(np.uint64) << np.uint64(ZOOM_SHIFT))
    ).astype(np.int64)


def k_ring_np(cell: int, k: int = 1) -> np.ndarray:
    """All cells within Chebyshev distance k (the H3 kRing analog).

    x wraps around the antimeridian (mod 2^z); y clamps at the poles.
    Ring expansion for kNN (alg/gdalgrid.cpp:879-995 doubling radius) unions
    successive k_ring shells.
    """
    x, y, z = cell_decode_np(np.array([cell]))
    x, y, z = int(x[0]), int(y[0]), int(z[0])
    n = 1 << z
    out = []
    for dy in range(-k, k + 1):
        yy = y + dy
        if yy < 0 or yy >= n:
            continue
        for dx in range(-k, k + 1):
            out.append((((x + dx) % n + n) % n, yy))
    xs = np.array([p[0] for p in out], dtype=np.uint64)
    ys = np.array([p[1] for p in out], dtype=np.uint64)
    return cell_encode_np(xs, ys, z)


def ring_shell_np(cell: int, k: int) -> np.ndarray:
    """Only the cells at exactly Chebyshev distance k (hollow ring)."""
    if k == 0:
        return np.array([cell], dtype=np.int64)
    inner = set(k_ring_np(cell, k - 1).tolist())
    return np.array(
        [c for c in k_ring_np(cell, k).tolist() if c not in inner], dtype=np.int64
    )
