"""Test-side helpers over the probe kernel's CSR output and zones rows,
and a runner for checks that need a fresh interpreter."""

import contextlib
import os
import signal
import subprocess
import sys

import numpy as np

from tzengine.zones import ZonePiece


def ranks_to_tzids(idx, offsets, ranks, valid):
    """CSR ranks -> (tzid first-match list, tzids all-matches list), None
    for invalid points and [] for uncovered ones (Q1 note: with a
    full-coverage zone set every valid point matches)."""
    tzid, tzids = [], []
    for i in range(len(offsets) - 1):
        if not valid[i]:
            tzid.append(None)
            tzids.append(None)
            continue
        names = [idx.zone_ids[r] for r in ranks[offsets[i]:offsets[i + 1]]]
        tzids.append(names)
        tzid.append(names[0] if names else None)
    return tzid, tzids


@contextlib.contextmanager
def deadline(seconds: float):
    """Fail with TimeoutError, instead of hanging the suite, when the
    body runs longer than ``seconds`` (the alarm lands between Python
    bytecodes, so a loop over numpy calls or a blocking Spark call is
    interrupted)."""

    def expire(signum, frame):
        raise TimeoutError(f"still running after {seconds} s")

    previous = signal.signal(signal.SIGALRM, expire)
    signal.setitimer(signal.ITIMER_REAL, seconds)
    try:
        yield
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, previous)


def run_isolated(code: str) -> None:
    """Run ``code`` in a fresh interpreter, with the checkout root as its
    working directory so that ``tzengine`` imports from this checkout,
    and fail with the tail of its stderr unless it exits 0."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True,
        text=True, timeout=120,
    )
    assert run.returncode == 0, run.stderr[-2000:]


def ring_vertices(idx) -> np.ndarray:
    """Every ring vertex of the index as one float64 (V, 2) array, pieces
    in rank order, each ring's closing copy dropped."""
    return np.vstack(
        [r for rank in range(idx.n_pieces) for r in idx.piece_rings(rank)]
    )


def rows_to_pieces(rows) -> list[ZonePiece]:
    """Zones-table Rows (zone_id, polygon_id, ordinal, rings) -> pieces,
    rings as (V, 2) float64 (lon, lat) arrays."""
    return [
        ZonePiece(
            r.zone_id, r.polygon_id, r.ordinal,
            [
                np.array([(v.lon, v.lat) for v in ring], dtype=np.float64)
                for ring in r.rings
            ],
        )
        for r in rows
    ]


def dense_knn_names(idx, lats, lons, k, metric="geodesic"):
    """The dense (points x pieces) kNN sweep ``probe.knn_zones_batch``
    must equal: a piece's distance is 0 when it contains the point (in
    the initialized region), else the oracle's boundary distance; zones
    in (distance, rank) order, each at its nearest piece. A NaN or
    infinite point gets []."""
    from tzengine import geom
    from tzengine.oracle import (
        distance_from_boundary, planar_distance_from_boundary,
    )

    dist_fn = (planar_distance_from_boundary if metric == "planar_deg"
               else distance_from_boundary)
    lats = np.asarray(lats, dtype=np.float64)
    lons = np.asarray(lons, dtype=np.float64)
    ok = np.isfinite(lats) & np.isfinite(lons)
    min_lat, min_lon, max_lat, max_lon = idx.init_region
    in_region = ((lats >= min_lat) & (lats <= max_lat)
                 & (lons >= min_lon) & (lons <= max_lon))
    pts = np.stack([np.where(ok, lons, 0.0), np.where(ok, lats, 0.0)], axis=1)
    dists = np.zeros((len(lats), idx.n_pieces))
    for rank in range(idx.n_pieces):
        rings = idx.piece_rings(rank)
        inside = geom.contains_inclusive(pts, rings) & in_region
        dists[:, rank] = np.where(inside, 0.0, dist_fn(pts, rings))
    ranks = np.arange(idx.n_pieces)
    out = []
    for i in range(len(lats)):
        names = []
        if ok[i]:
            for r in np.lexsort((ranks, dists[i])):
                if len(names) >= k:
                    break
                if idx.zone_ids[r] not in names:
                    names.append(idx.zone_ids[r])
        out.append(names)
    return out
