"""Pure-Python reference-semantics oracle (no cell index).

Mirrors the reference pipeline literally, step by step (TimeZoneMap.kt:
156-243 and 56-85): float32 vertices → bbox prune → pre-clip area sort
with stable ingest-order ties → envelope clip → linear scan with
boundary-inclusive PIP, smallest-area-first. Used by the e2e tests to
validate that the engine's broadcast cell index changes NOTHING about
results — only speed. The per-piece boundary-distance functions below
are the dense references the engine's flat foot kernel
(probe._foot_distances) is pinned against bit-for-bit.
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
            return float(
                distance_from_boundary(
                    pt, rings, freeze=metric == "geodesic_freeze"
                )[0]
            )
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
    pts: np.ndarray, rings: list[np.ndarray], freeze: bool = False
) -> np.ndarray:
    """Distance (meters) from each point to the planar-nearest boundary
    coordinate, geodesic on WGS84 — TimeZone.kt:41-47 semantics. Does NOT
    enforce the inside-guard; callers check `contains_inclusive` first
    (TimeZone.kt:43). ``freeze`` → geom.geodesic_distance_wgs84."""
    pts = np.atleast_2d(np.asarray(pts, dtype=np.float64))
    nearest = nearest_boundary_point(pts, rings)
    return geom.geodesic_distance_wgs84(
        pts[:, 1], pts[:, 0], nearest[:, 1], nearest[:, 0], freeze=freeze
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
