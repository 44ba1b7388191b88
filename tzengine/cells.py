"""Deterministic int64 cell scheme: Morton-coded lon/lat quadtree.

The north-star design calls for an H3/S2-style covering index; neither h3
nor s2/shapely is available in this environment, so this implements an
equivalent-for-this-purpose scheme from first principles: a power-of-two
lon x lat grid per resolution, cell ids formed as

    cell_id = (res << 58) | interleave_bits(ix, iy)        (uint64)

with ``parent(cell) = ((res-1) << 58) | (morton >> 2)``. Cells are only
ever compared for equality / ancestry within this scheme (SURVEY.md §4.1),
so the choice of projection (equirectangular quadtree vs true H3 hexes) is
an implementation detail — what matters is that encoding is pure numpy bit
math: deterministic across runs, partitions, and restarts (north_star
"tile assignments must match deterministically across restarts").

Domain: lon in [-180, 180], lat in [-90, 90]. Points exactly on the +180 /
+90 edge clamp into the last cell (closed upper boundary).

Resolutions 0..MAX_RES (28). Cell edge at res r is 360/2^r degrees of
longitude by 180/2^r degrees of latitude.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 28  # 2*28 = 56 morton bits + 5 bits of resolution < 63

_LON_SPAN = 360.0
_LAT_SPAN = 180.0


def _part1by1(v: np.ndarray) -> np.ndarray:
    """Spread the low 28 bits of each uint64 so there is a zero bit
    between every original bit (Morton 'part' step, public bit-twiddling
    pattern)."""
    v = v.astype(np.uint64)
    v &= np.uint64(0x000000000FFFFFFF)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact1by1(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64)
    v &= np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x000000000FFFFFFF)
    return v


def morton_encode(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return _part1by1(ix) | (_part1by1(iy) << np.uint64(1))


def morton_decode(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    m = m.astype(np.uint64)
    return _compact1by1(m), _compact1by1(m >> np.uint64(1))


def grid_of(lon, lat, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized point → (ix, iy) grid coordinates at resolution ``res``
    (uint64 each) — the quantization step of ``cell_of``, exposed so the
    probe kernel can reuse the integer coordinates for dense-table lookups
    without a Morton decode."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution must be in [0, {MAX_RES}]")
    lon = np.atleast_1d(np.asarray(lon, dtype=np.float64))
    lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
    n = np.uint64(1) << np.uint64(res)
    u = (lon + 180.0) / _LON_SPAN
    v = (lat + 90.0) / _LAT_SPAN
    ix = np.clip((u * float(n)).astype(np.int64), 0, int(n) - 1).astype(np.uint64)
    iy = np.clip((v * float(n)).astype(np.int64), 0, int(n) - 1).astype(np.uint64)
    return ix, iy


def cell_of(lon, lat, res: int) -> np.ndarray:
    """Vectorized point → cell id at resolution ``res`` (uint64)."""
    ix, iy = grid_of(lon, lat, res)
    return (np.uint64(res) << np.uint64(58)) | morton_encode(ix, iy)


def cell_res(cell: np.ndarray) -> np.ndarray:
    return (np.asarray(cell, dtype=np.uint64) >> np.uint64(58)).astype(np.int64)


def cell_bounds(cell) -> np.ndarray:
    """(N,4) array of (lon_min, lat_min, lon_max, lat_max) per cell."""
    cell = np.atleast_1d(np.asarray(cell, dtype=np.uint64))
    res = cell >> np.uint64(58)
    morton = cell & ((np.uint64(1) << np.uint64(58)) - np.uint64(1))
    ix, iy = morton_decode(morton)
    n = (np.uint64(1) << res).astype(np.float64)
    lon_min = ix.astype(np.float64) / n * _LON_SPAN - 180.0
    lat_min = iy.astype(np.float64) / n * _LAT_SPAN - 90.0
    return np.stack(
        [lon_min, lat_min, lon_min + _LON_SPAN / n, lat_min + _LAT_SPAN / n], axis=1
    )


def cells_covering_bbox(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float, res: int
) -> np.ndarray:
    """All cell ids at ``res`` whose rectangles intersect the bbox."""
    n = 1 << res
    ix0 = int(np.clip(np.floor((lon_min + 180.0) / _LON_SPAN * n), 0, n - 1))
    ix1 = int(np.clip(np.floor((lon_max + 180.0) / _LON_SPAN * n), 0, n - 1))
    iy0 = int(np.clip(np.floor((lat_min + 90.0) / _LAT_SPAN * n), 0, n - 1))
    iy1 = int(np.clip(np.floor((lat_max + 90.0) / _LAT_SPAN * n), 0, n - 1))
    ixs, iys = np.meshgrid(
        np.arange(ix0, ix1 + 1, dtype=np.uint64),
        np.arange(iy0, iy1 + 1, dtype=np.uint64),
        indexing="ij",
    )
    return (np.uint64(res) << np.uint64(58)) | morton_encode(
        ixs.ravel(), iys.ravel()
    )
