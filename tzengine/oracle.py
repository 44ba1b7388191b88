"""Pure-Python reference-semantics oracle (no cell index).

Mirrors the reference pipeline literally, step by step (TimeZoneMap.kt:
156-243 and 56-85): float32 vertices → bbox prune → pre-clip area sort
with stable ingest-order ties → envelope clip → linear scan with
boundary-inclusive PIP, smallest-area-first. Used by the e2e tests to
validate that the engine's broadcast cell index changes NOTHING about
results — only speed. The per-piece boundary-distance functions below
are the dense references the engine's flat foot kernel
(probe._foot_distances) is pinned against bit-for-bit, the dense
segment-box matrix is the reference for the covering compiler's
incidences (geom.segments_box_touch), and the Sutherland–Hodgman ring
clip at the end is the reference the engine's component-splitting clip
(geom.clip_rings_to_box_split) is checked against.
"""

from __future__ import annotations

import numpy as np

from . import geom
from .index import validate_region
from .probe import OUTSIDE_MSG
from .zones import ZonePiece


class OracleMap:
    def __init__(
        self,
        pieces: list[ZonePiece],
        min_lat: float,
        min_lon: float,
        max_lat: float,
        max_lon: float,
    ):
        validate_region(min_lat, min_lon, max_lat, max_lon)
        self.init_region = (min_lat, min_lon, max_lat, max_lon)

        kept = []
        for p in pieces:
            lo_lon, lo_lat, hi_lon, hi_lat = p.bbox
            if (
                hi_lat < min_lat
                or lo_lat > max_lat
                or hi_lon < min_lon
                or lo_lon > max_lon
            ):
                continue
            kept.append(p)
        kept.sort(key=lambda p: (p.area2d, p.ordinal))

        # I12 incl. the flatMap split: each connected component of a clip
        # result is its own entry (TimeZoneMap.kt:220-235)
        self.entries: list[tuple[str, list[np.ndarray]]] = []
        for p in kept:
            lo_lon, lo_lat, hi_lon, hi_lat = p.bbox
            if (
                lo_lat >= min_lat
                and hi_lat <= max_lat
                and lo_lon >= min_lon
                and hi_lon <= max_lon
            ):
                self.entries.append((p.zone_id, p.rings))
                continue
            for rings in geom.clip_rings_to_box_split(
                p.rings, min_lon, min_lat, max_lon, max_lat
            ):
                if not rings or geom.polygon_area2d(rings) <= 0:
                    continue
                self.entries.append((p.zone_id, rings))

    def get_overlapping_time_zones(self, lat: float, lon: float) -> list[str]:
        min_lat, min_lon, max_lat, max_lon = self.init_region
        if not (min_lat <= lat <= max_lat and min_lon <= lon <= max_lon):
            raise ValueError(OUTSIDE_MSG)
        pt = np.array([[lon, lat]])
        return [
            zid for zid, rings in self.entries if geom.contains_inclusive(pt, rings)[0]
        ]

    def get_overlapping_time_zone(self, lat: float, lon: float) -> str | None:
        zones = self.get_overlapping_time_zones(lat, lon)
        return zones[0] if zones else None

    def get_distance_from_boundary(
        self, zone_id: str, lat: float, lon: float, metric: str = "geodesic"
    ) -> float:
        """Q5 (TimeZone.kt:41-47) on the first (smallest-area) piece of
        ``zone_id`` whose rings contain the point; NaN when none does.
        ``metric`` as in probe.distance_from_boundary_batch."""
        pt = np.array([[lon, lat]])
        for zid, rings in self.entries:
            if zid != zone_id or not geom.contains_inclusive(pt, rings)[0]:
                continue
            if metric == "planar_deg":
                return float(planar_distance_from_boundary(pt, rings)[0])
            return float(distance_from_boundary(pt, rings)[0])
        return float("nan")


def nearest_boundary_point(pts: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """For each point, the planar-nearest coordinate on any ring segment
    (degrees), matching esri `GeometryEngine.getNearestCoordinate`
    (TimeZone.kt:46 — note: nearest is planar; only the final distance is
    geodesic); the first minimum wins ties. Returns (N,2) (lon,lat)."""
    pts = np.atleast_2d(np.asarray(pts, dtype=np.float64))
    seg_a, seg_b = geom._segments(rings)
    px = pts[:, 0][:, None]
    py = pts[:, 1][:, None]
    ax, ay = seg_a[:, 0][None, :], seg_a[:, 1][None, :]
    bx, by = seg_b[:, 0][None, :], seg_b[:, 1][None, :]
    dx, dy = bx - ax, by - ay
    seg_len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - ax) * dx + (py - ay) * dy) / seg_len2
    t = np.where(seg_len2 > 0, np.clip(t, 0.0, 1.0), 0.0)
    cx = ax + t * dx
    cy = ay + t * dy
    d2 = (px - cx) ** 2 + (py - cy) ** 2
    best = np.argmin(d2, axis=1)
    rows = np.arange(len(pts))
    return np.stack([cx[rows, best], cy[rows, best]], axis=1)


def distance_from_boundary(
    pts: np.ndarray, rings: list[np.ndarray]
) -> np.ndarray:
    """Distance (meters) from each point to the planar-nearest boundary
    coordinate, geodesic on WGS84 — TimeZone.kt:41-47 semantics. Does NOT
    enforce the inside-guard; callers check `contains_inclusive` first
    (TimeZone.kt:43)."""
    pts = np.atleast_2d(np.asarray(pts, dtype=np.float64))
    nearest = nearest_boundary_point(pts, rings)
    return geom.geodesic_distance_wgs84(
        pts[:, 1], pts[:, 0], nearest[:, 1], nearest[:, 0]
    )


def planar_distance_from_boundary(
    pts: np.ndarray, rings: list[np.ndarray]
) -> np.ndarray:
    """Planar distance in DEGREES to the nearest boundary segment:
    sqrt(min d²), the d² of the nearest coordinate's own expression."""
    pts = np.atleast_2d(np.asarray(pts, dtype=np.float64))
    nearest = nearest_boundary_point(pts, rings)
    return np.sqrt(
        (pts[:, 0] - nearest[:, 0]) ** 2 + (pts[:, 1] - nearest[:, 1]) ** 2
    )


def segments_box_matrix(
    seg_a: np.ndarray, seg_b: np.ndarray, boxes: np.ndarray
) -> np.ndarray:
    """Bool matrix (C, S): segment s touches/crosses box c. Boxes are
    (C, 4) as (xmin, ymin, xmax, ymax). The dense all-pairs form of
    geom.segments_box_touch, written out independently as an outer
    product over boxes x segments."""
    C, S = len(boxes), len(seg_a)
    if C == 0 or S == 0:
        return np.zeros((C, S), dtype=bool)
    xmin = boxes[:, 0][:, None]
    ymin = boxes[:, 1][:, None]
    xmax = boxes[:, 2][:, None]
    ymax = boxes[:, 3][:, None]
    ax, ay = seg_a[:, 0][None, :], seg_a[:, 1][None, :]
    bx, by = seg_b[:, 0][None, :], seg_b[:, 1][None, :]

    in_a = (ax >= xmin) & (ax <= xmax) & (ay >= ymin) & (ay <= ymax)
    in_b = (bx >= xmin) & (bx <= xmax) & (by >= ymin) & (by <= ymax)
    out = in_a | in_b

    # outcode trivial-reject
    ca = (
        np.where(ax < xmin, 1, 0)
        | np.where(ax > xmax, 2, 0)
        | np.where(ay < ymin, 4, 0)
        | np.where(ay > ymax, 8, 0)
    )
    cb = (
        np.where(bx < xmin, 1, 0)
        | np.where(bx > xmax, 2, 0)
        | np.where(by < ymin, 4, 0)
        | np.where(by > ymax, 8, 0)
    )
    cand = ~out & ((ca & cb) == 0)
    if np.any(cand):
        hit = np.zeros_like(cand)
        corners = [
            (xmin, ymin, xmax, ymin),
            (xmax, ymin, xmax, ymax),
            (xmax, ymax, xmin, ymax),
            (xmin, ymax, xmin, ymin),
        ]
        dxs = bx - ax
        dys = by - ay
        for ex0, ey0, ex1, ey1 in corners:
            d1 = dxs * (ey0 - ay) - dys * (ex0 - ax)
            d2 = dxs * (ey1 - ay) - dys * (ex1 - ax)
            dex = ex1 - ex0
            dey = ey1 - ey0
            d3 = dex * (ay - ey0) - dey * (ax - ex0)
            d4 = dex * (by - ey0) - dey * (bx - ex0)
            hit |= (d1 * d2 <= 0) & (d3 * d4 <= 0)
        out |= cand & hit
    return out


def clip_ring_to_box(
    ring: np.ndarray, xmin: float, ymin: float, xmax: float, ymax: float
) -> np.ndarray:
    """Clip one ring against an axis-aligned box (Sutherland–Hodgman,
    four half-plane passes). Returns (V,2) possibly empty. Mirrors the
    effect of the reference's `OperatorIntersection` clip against
    `envelopeToPolygon` (TimeZoneMap.kt:223-228, 245-252) for a single
    ring; the clip boundary becomes real zone boundary (TimeZone.kt:26-28)."""
    pts = np.asarray(ring, dtype=np.float64)

    def clip_half(p, inside, intersect):
        if len(p) == 0:
            return p
        keep = inside(p)
        prev = np.roll(keep, 1)
        out = []
        n = len(p)
        for i in range(n):
            cur_in = keep[i]
            prv = p[i - 1]
            prv_in = prev[i]
            if cur_in:
                if not prv_in:
                    out.append(intersect(prv, p[i]))
                out.append(p[i])
            elif prv_in:
                out.append(intersect(prv, p[i]))
        return np.array(out) if out else np.zeros((0, 2))

    def ix_lo_x(a, b):
        t = (xmin - a[0]) / (b[0] - a[0])
        return np.array([xmin, a[1] + t * (b[1] - a[1])])

    def ix_hi_x(a, b):
        t = (xmax - a[0]) / (b[0] - a[0])
        return np.array([xmax, a[1] + t * (b[1] - a[1])])

    def ix_lo_y(a, b):
        t = (ymin - a[1]) / (b[1] - a[1])
        return np.array([a[0] + t * (b[0] - a[0]), ymin])

    def ix_hi_y(a, b):
        t = (ymax - a[1]) / (b[1] - a[1])
        return np.array([a[0] + t * (b[0] - a[0]), ymax])

    pts = clip_half(pts, lambda p: p[:, 0] >= xmin, ix_lo_x)
    pts = clip_half(pts, lambda p: p[:, 0] <= xmax, ix_hi_x)
    pts = clip_half(pts, lambda p: p[:, 1] >= ymin, ix_lo_y)
    pts = clip_half(pts, lambda p: p[:, 1] <= ymax, ix_hi_y)
    if len(pts) >= 2:
        # drop consecutive EXACT duplicate vertices introduced by corner
        # clips (exact compare: degenerate 1e-6-deg regions are legal,
        # TimeZoneMapTest.java:386-403)
        dup = np.all(pts == np.roll(pts, 1, axis=0), axis=1)
        pts = pts[~dup]
    return pts if len(pts) >= 3 else np.zeros((0, 2))


def clip_rings_to_box(
    rings: list[np.ndarray], xmin: float, ymin: float, xmax: float, ymax: float
) -> list[np.ndarray]:
    """Clip every ring; drop rings that collapse. Empty outer → zone piece
    dropped by the caller (reference `pointCount > 0` filter,
    TimeZoneMap.kt:233)."""
    out = []
    for r in rings:
        c = clip_ring_to_box(r, xmin, ymin, xmax, ymax)
        if len(c) >= 3:
            out.append(c)
    return out
