"""Planar + geodesic geometry kernel (pure numpy, vectorized).

Re-implements, from public semantics only, the geometry operations the
reference library delegates to the Esri geometry API:

- float32 vertex normalization   (reference: serialization/.../Serialization.kt:12,
  builder/.../Main.kt:41-42 — coordinates are stored as float32 and widened
  back to double for geometry math, Util.kt:19-21)
- signed ring area / polygon planar area in degrees^2
  (reference: TimeZoneMap.kt:217 `calculateArea2D()` — used ONLY as the
  deterministic smallest-area-first sort key)
- boundary-inclusive point-in-polygon (reference: Util.kt:12-13
  `contains || touches`; truth table pinned by UtilTest.java:60-81)
- axis-aligned envelope clip (reference: TimeZoneMap.kt:218-235
  `OperatorIntersection` against `envelopeToPolygon(initRegion)`)
- planar nearest-coordinate-on-boundary + WGS84 geodesic distance
  (reference: TimeZone.kt:41-47 `getNearestCoordinate` +
  `geodesicDistanceOnWGS84`; goldens pinned by TimeZoneTest.java:16-61)

Conventions: rings are numpy arrays of shape (V, 2) with columns
(lon, lat) in float64 (x=lon, y=lat, matching `Point(lon, lat)` at
TimeZoneMap.kt:81). Rings do NOT repeat the first vertex. A polygon is a
list of rings: orientation encodes role (outer CW, holes CCW, islands CW
— UtilTest.java:33-56), but the even-odd PIP below is orientation-free.
"""

from __future__ import annotations

import numpy as np

# Tolerance for the on-segment ("touches") test, in degrees. The fixture
# points sit exactly on segments in float64 after the float32 widening, so
# this only guards against rounding dust.
ON_EDGE_EPS = 1e-12

# WGS84 ellipsoid (public constants).
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_B = WGS84_A * (1.0 - WGS84_F)


def f32(x):
    """Round coordinates through float32 and widen back to float64.

    Matches the reference storage round-trip (Serialization.kt:12 float
    fields; Util.kt:19-21 `.toDouble()` widening).
    """
    return np.asarray(x, dtype=np.float32).astype(np.float64)


def ring_signed_area(ring: np.ndarray) -> float:
    """Shoelace signed area in the (lon, lat) plane, degrees^2.

    Positive for counter-clockwise rings (standard shoelace sign).
    """
    x = ring[:, 0]
    y = ring[:, 1]
    return 0.5 * float(np.sum(x * np.roll(y, -1) - np.roll(x, -1) * y))


def polygon_area2d(rings: list[np.ndarray]) -> float:
    """Planar area matching esri `calculateArea2D` on a multi-path polygon:
    the sum of signed ring areas with clockwise positive (outer CW adds,
    CCW holes subtract, CW islands add back). Used as the area-sort key
    (TimeZoneMap.kt:216-217)."""
    return float(sum(-ring_signed_area(r) for r in rings))


def rings_bbox(rings: list[np.ndarray]) -> tuple[float, float, float, float]:
    """(min_lon, min_lat, max_lon, max_lat) over all vertices."""
    allv = np.vstack(rings)
    return (
        float(allv[:, 0].min()),
        float(allv[:, 1].min()),
        float(allv[:, 0].max()),
        float(allv[:, 1].max()),
    )


def _segments(rings: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """All ring segments as (S,2) start and end arrays (ring-closing edge
    included)."""
    starts = []
    ends = []
    for r in rings:
        if len(r) < 2:
            continue
        starts.append(r)
        ends.append(np.roll(r, -1, axis=0))
    if not starts:
        return np.zeros((0, 2)), np.zeros((0, 2))
    return np.vstack(starts), np.vstack(ends)


def points_on_boundary(
    pts: np.ndarray, seg_a: np.ndarray, seg_b: np.ndarray, eps: float = ON_EDGE_EPS
) -> np.ndarray:
    """Boolean (N,) — point lies on any segment (the `touches` half of
    containsInclusive, Util.kt:12-13). Vectorized N x S."""
    if len(seg_a) == 0 or len(pts) == 0:
        return np.zeros(len(pts), dtype=bool)
    px = pts[:, 0][:, None]
    py = pts[:, 1][:, None]
    ax, ay = seg_a[:, 0][None, :], seg_a[:, 1][None, :]
    bx, by = seg_b[:, 0][None, :], seg_b[:, 1][None, :]
    # colinear within eps (cross product) and within segment bbox
    cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
    seg_len = np.hypot(bx - ax, by - ay)
    colinear = np.abs(cross) <= eps * np.maximum(seg_len, 1.0)
    inbox = (
        (px >= np.minimum(ax, bx) - eps)
        & (px <= np.maximum(ax, bx) + eps)
        & (py >= np.minimum(ay, by) - eps)
        & (py <= np.maximum(ay, by) + eps)
    )
    return np.any(colinear & inbox, axis=1)


def _expand(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """CSR expansion: ``starts[i] + j`` for every j < ``counts[i]``,
    run after run (int64)."""
    counts = counts.astype(np.int64, copy=False)
    heads = np.cumsum(counts) - counts
    return np.repeat(starts - heads, counts) + np.arange(int(counts.sum()))


def _chunks(counts: np.ndarray, budget: int):
    """Consecutive slices [start, end) of the runs, each holding at most
    ``budget`` items (``counts[i]`` in run i), or one run over the budget
    on its own."""
    cum = np.cumsum(counts)
    start = 0
    while start < len(cum):
        base = int(cum[start - 1]) if start else 0
        end = int(np.searchsorted(cum, base + budget, side="right"))
        end = max(end, start + 1)
        yield start, end
        start = end


# (segment, point) pairs points_in_rings_evenodd expands at once
EVENODD_PAIR_CHUNK = 1 << 20


def points_in_rings_evenodd(
    pts: np.ndarray, seg_a: np.ndarray, seg_b: np.ndarray
) -> np.ndarray:
    """Boolean (N,) strict even-odd crossing-number containment over all
    ring segments. Holes flip parity out, islands flip back in — matching
    the esri interior semantics used by `GeometryEngine.contains`
    (point in hole = outside, point in island-in-hole = inside,
    UtilTest.java:74-80).

    A segment straddles a point's y when ``(ay > y) != (by > y)``, i.e.
    ``min(ay, by) <= y < max(ay, by)``: over the points sorted by y,
    one contiguous run found by two ``searchsorted`` (a NaN or +-inf y
    straddles nothing). Only those (segment, point) pairs are expanded,
    and each point counts the crossings strictly right of it."""
    n = len(pts)
    if len(seg_a) == 0 or n == 0:
        return np.zeros(n, dtype=bool)
    order = np.argsort(pts[:, 1])
    xs, ys = pts[order, 0], pts[order, 1]
    ay, by = seg_a[:, 1], seg_b[:, 1]
    lo = np.searchsorted(ys, np.minimum(ay, by))
    hi = np.searchsorted(ys, np.maximum(ay, by))
    parity = np.zeros(n, dtype=np.int64)
    for s0, s1 in _chunks(hi - lo, EVENODD_PAIR_CHUNK):
        cnt = hi[s0:s1] - lo[s0:s1]
        pos = _expand(lo[s0:s1], cnt)
        seg = np.repeat(np.arange(s0, s1), cnt)
        a_x, a_y = seg_a[seg, 0], ay[seg]
        x_at = a_x + (ys[pos] - a_y) * (seg_b[seg, 0] - a_x) / (by[seg] - a_y)
        parity[order] ^= np.bincount(pos[xs[pos] < x_at], minlength=n)
    return (parity & 1).astype(bool)


def contains_inclusive(pts: np.ndarray, rings: list[np.ndarray]) -> np.ndarray:
    """Vectorized `containsInclusive` (Util.kt:12-13): even-odd interior
    OR on-any-boundary. pts: (N,2) as (lon,lat)."""
    pts = np.atleast_2d(np.asarray(pts, dtype=np.float64))
    seg_a, seg_b = _segments(rings)
    return points_in_rings_evenodd(pts, seg_a, seg_b) | points_on_boundary(
        pts, seg_a, seg_b
    )


# ---------------------------------------------------------------------------
# Envelope clip (half-plane passes that split disconnected components).
# ---------------------------------------------------------------------------


def _clip_halfplane_split(
    rings: list[np.ndarray], coord: int, line: float, keep_ge: bool
) -> list[np.ndarray]:
    """Clip an even-odd multi-ring polygon (outer rings CW, holes CCW)
    against one half-plane, SPLITTING the result into separate closed
    rings where the region disconnects along the clip line and MERGING
    rings that become connected (e.g. a hole cut open by the line joins
    the outer boundary).

    Topology comes from Jordan parity: every ring crossing contributes an
    entry/exit point on the clip line; sorted along the line, the
    intervals between consecutive crossings alternate outside/inside the
    polygon, and each inside interval links one run's exit to another
    run's entry. Walking those links closes the output rings. This is
    what the reference's esri ``OperatorIntersection`` + polygon-cursor
    flatMap produces (TimeZoneMap.kt:220-235), restricted to an
    axis-aligned clip region.
    """
    inside_of = (
        (lambda v: v >= line) if keep_ge else (lambda v: v <= line)
    )
    untouched: list[np.ndarray] = []
    runs: list[dict] = []  # pts: list[(x,y)], t_entry, t_exit
    other = 1 - coord

    for ring in rings:
        pts = np.asarray(ring, dtype=np.float64)
        vals = pts[:, coord]
        inside = inside_of(vals)
        if inside.all():
            untouched.append(pts)
            continue
        if not inside.any():
            continue
        n = len(pts)
        # rotate so iteration starts at a run head (outside -> inside)
        start = next(i for i in range(n) if inside[i] and not inside[i - 1])
        cur: dict | None = None
        for k in range(n + 1):
            i = (start + k) % n
            prv = (start + k - 1) % n
            a, b = pts[prv], pts[i]
            if inside[i] and not inside[prv]:  # entry
                t = (line - a[coord]) / (b[coord] - a[coord])
                ep = a + t * (b - a)
                ep[coord] = line
                cur = {"pts": [ep], "t_entry": ep[other]}
                if not np.array_equal(ep, b):
                    cur["pts"].append(b.copy())
            elif inside[i] and inside[prv]:
                if cur is not None and k < n:
                    cur["pts"].append(b.copy())
            elif not inside[i] and inside[prv]:  # exit
                t = (line - a[coord]) / (b[coord] - a[coord])
                xp = a + t * (b - a)
                xp[coord] = line
                if cur is not None:
                    if not np.array_equal(xp, cur["pts"][-1]):
                        cur["pts"].append(xp)
                    cur["t_exit"] = xp[other]
                    runs.append(cur)
                    cur = None

    if not runs:
        return untouched

    # crossing list along the line: (t, is_entry, run_id); stable order
    crossings = []
    for k, r in enumerate(runs):
        crossings.append((r["t_entry"], 1, k))
        crossings.append((r["t_exit"], 0, k))
    crossings.sort(key=lambda c: (c[0], c[1]))
    # parity: interval before the first crossing is outside the polygon;
    # inside intervals are (c[0],c[1]), (c[2],c[3]), ...
    link: dict[tuple[int, int], tuple[int, int]] = {}
    for m in range(0, len(crossings), 2):
        a_key = (crossings[m][1], crossings[m][2])
        b_key = (crossings[m + 1][1], crossings[m + 1][2])
        link[a_key] = b_key
        link[b_key] = a_key

    out: list[np.ndarray] = list(untouched)
    visited: set[int] = set()
    for k0 in range(len(runs)):
        if k0 in visited:
            continue
        ring_pts: list[np.ndarray] = []
        start_key = (1, k0)  # the walk begins at k0's entry point
        k, forward = k0, True
        while True:
            visited.add(k)
            seq = runs[k]["pts"] if forward else runs[k]["pts"][::-1]
            ring_pts.extend(seq)
            end_key = (0, k) if forward else (1, k)  # the side we leave on
            nxt = link[end_key]
            if nxt == start_key:
                break  # closed back to the start
            nk, nr = nxt
            if nr in visited and nr != k0:
                break  # defensive: malformed topology, close what we have
            k, forward = nr, (nk == 1)  # forward when we land on an entry
        arr = np.asarray(ring_pts)
        # drop consecutive duplicates (entry/exit coinciding with vertices)
        if len(arr) >= 2:
            dup = np.all(arr == np.roll(arr, 1, axis=0), axis=1)
            arr = arr[~dup]
        if len(arr) >= 3:
            out.append(arr)
    return out


def clip_rings_to_box_split(
    rings: list[np.ndarray], xmin: float, ymin: float, xmax: float, ymax: float
) -> list[list[np.ndarray]]:
    """Clip an even-odd polygon (ring 0 + siblings, outer CW / holes CCW)
    to a box and split the result into CONNECTED COMPONENTS — one
    ``[outer, holes...]`` ring list per component, mirroring the
    reference's per-polygon flatMap of the clip cursor
    (TimeZoneMap.kt:220-235). Components are ordered by descending
    |area| of their outer ring for determinism."""
    cur = [np.asarray(r, dtype=np.float64) for r in rings]
    for coord, line, keep_ge in (
        (0, xmin, True),
        (0, xmax, False),
        (1, ymin, True),
        (1, ymax, False),
    ):
        cur = _clip_halfplane_split(cur, coord, line, keep_ge)
        if not cur:
            return []
    keep = [r for r in cur if len(r) >= 3 and abs(ring_signed_area(r)) > 0.0]
    outers = [r for r in keep if ring_signed_area(r) <= 0]  # CW convention
    holes = [r for r in keep if ring_signed_area(r) > 0]
    comps: list[list[np.ndarray]] = [[o] for o in outers]
    comps.sort(key=lambda c: -abs(ring_signed_area(c[0])))
    for h in holes:
        pt = h[:1]
        best = None
        best_area = None
        for c in comps:
            if points_in_rings_evenodd(pt, *_segments([c[0]]))[0]:
                a = abs(ring_signed_area(c[0]))
                if best is None or a < best_area:
                    best, best_area = c, a
        if best is not None:
            best.append(h)
        # a hole with no containing outer was fully consumed by the clip
    return comps


# ---------------------------------------------------------------------------
# Geodesic distance (WGS84).
# ---------------------------------------------------------------------------


#: Vincenty loop bound: the iteration count the SQL mirror runs.
VINCENTY_ITERATIONS = 50


def geodesic_distance_wgs84(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Vectorized Vincenty inverse on the WGS84 ellipsoid, meters.

    Public algorithm (Vincenty 1975). Accuracy ~0.5 mm — inside the
    reference goldens' tolerances (TimeZoneTest.java:34-60, tightest
    ±0.001 m on ~111 m). Coincident points return exactly 0.0.

    Each row is the fixed ``VINCENTY_ITERATIONS``-step λ loop with no
    convergence threshold: a deterministic pure row function, and the
    loop the recursive-CTE SQL oracle mirrors exactly. A row leaves the
    loop early once its next λ is bitwise equal to its current one (the
    loop keeps running on the remaining rows only). From there every
    further iteration would recompute the same values, so each output
    is bitwise what the full loop gives, whatever the batch; λ typically
    reaches an exact float64 fixed point by iteration 6-7, which makes
    the call 4-7x faster than running every row to the bound.
    """
    lat1 = np.atleast_1d(np.asarray(lat1, dtype=np.float64))
    lon1 = np.atleast_1d(np.asarray(lon1, dtype=np.float64))
    lat2 = np.atleast_1d(np.asarray(lat2, dtype=np.float64))
    lon2 = np.atleast_1d(np.asarray(lon2, dtype=np.float64))

    a, b, f = WGS84_A, WGS84_B, WGS84_F
    same = (lat1 == lat2) & (lon1 == lon2)

    U1 = np.arctan((1 - f) * np.tan(np.radians(lat1)))
    U2 = np.arctan((1 - f) * np.tan(np.radians(lat2)))
    L = np.radians(lon2 - lon1)
    sinU1, cosU1 = np.sin(U1), np.cos(U1)
    sinU2, cosU2 = np.sin(U2), np.cos(U2)

    # final per-row sin σ, cos σ, σ, cos²α, cos 2σm (the initial values
    # stand for a zero-step loop); the loop runs on the ACTIVE rows only,
    # ``act`` indexes them and the a*/s*/c* names hold their slices
    fin = np.repeat([[0.0], [1.0], [0.0], [1.0], [0.0]], L.size, axis=1)
    act = np.arange(L.size)
    aL = L.ravel()
    lam = aL.copy()
    s1, c1, s2, c2 = (
        np.broadcast_to(x, L.shape).ravel()
        for x in (sinU1, cosU1, sinU2, cosU2)
    )

    # one errstate context for the whole loop (entering/exiting numpy's
    # errstate per iteration was ~25% of the kNN kernel wall at small
    # batch sizes — 2 contexts x 50 iterations x one call per piece)
    with np.errstate(divide="ignore", invalid="ignore"):
        for it in range(VINCENTY_ITERATIONS):
            if not act.size:
                break
            sin_lam, cos_lam = np.sin(lam), np.cos(lam)
            s_sig = np.sqrt(
                (c2 * sin_lam) ** 2 + (c1 * s2 - s1 * c2 * cos_lam) ** 2
            )
            c_sig = s1 * s2 + c1 * c2 * cos_lam
            sig = np.arctan2(s_sig, c_sig)
            sin_alpha = np.where(s_sig != 0, c1 * c2 * sin_lam / s_sig, 0.0)
            csa = 1.0 - sin_alpha**2
            c2m = np.where(
                csa != 0,
                c_sig - 2.0 * s1 * s2 / np.where(csa == 0, 1.0, csa),
                0.0,
            )
            C = f / 16.0 * csa * (4.0 + f * (4.0 - 3.0 * csa))
            lam_new = aL + (1.0 - C) * f * sin_alpha * (
                sig + C * s_sig * (c2m + C * c_sig * (-1.0 + 2.0 * c2m**2))
            )
            # a row whose next λ is bitwise its current one is at a
            # fixed point: every later iteration would recompute these
            # same values, so it leaves the loop now (λ reaches an exact
            # float64 fixed point within ~7 iterations)
            out = lam_new.view(np.int64) == lam.view(np.int64)
            if it == VINCENTY_ITERATIONS - 1:
                out[:] = True
            if out.any():
                fin[:, act[out]] = (s_sig[out], c_sig[out], sig[out],
                                    csa[out], c2m[out])
                keep = ~out
                act, aL, s1, c1, s2, c2, lam_new = (
                    x[keep] for x in (act, aL, s1, c1, s2, c2, lam_new)
                )
            lam = lam_new
    sin_sigma, cos_sigma, sigma, cos_sq_alpha, cos2sigma_m = fin.reshape(
        (5,) + L.shape
    )

    u_sq = cos_sq_alpha * (a**2 - b**2) / b**2
    A = 1.0 + u_sq / 16384.0 * (4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq)))
    B = u_sq / 1024.0 * (256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))
    delta_sigma = (
        B
        * sin_sigma
        * (
            cos2sigma_m
            + B
            / 4.0
            * (
                cos_sigma * (-1.0 + 2.0 * cos2sigma_m**2)
                - B
                / 6.0
                * cos2sigma_m
                * (-3.0 + 4.0 * sin_sigma**2)
                * (-3.0 + 4.0 * cos2sigma_m**2)
            )
        )
    )
    dist = b * A * (sigma - delta_sigma)
    return np.where(same, 0.0, dist)


def segments_box_touch(
    a: np.ndarray, b: np.ndarray, boxes: np.ndarray
) -> np.ndarray:
    """Elementwise: does segment (a[i], b[i]) touch or cross the closed
    box ``boxes[i]`` = (xmin, ymin, xmax, ymax)? The one segment-box
    predicate: the covering compiler classifies boundary vs uniform
    cells with it, the rasterizer partial vs full cells.

    An endpoint inside the box is a hit; a segment whose endpoints share
    an outside half-plane is not (Cohen–Sutherland outcodes); the rest
    get the exact test against the four box edges."""
    xmin, ymin, xmax, ymax = boxes[:, 0], boxes[:, 1], boxes[:, 2], boxes[:, 3]
    ax, ay = a[:, 0], a[:, 1]
    bx, by = b[:, 0], b[:, 1]
    in_a = (ax >= xmin) & (ax <= xmax) & (ay >= ymin) & (ay <= ymax)
    in_b = (bx >= xmin) & (bx <= xmax) & (by >= ymin) & (by <= ymax)
    out = in_a | in_b
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
        ci = np.nonzero(cand)[0]
        axc, ayc, bxc, byc = ax[ci], ay[ci], bx[ci], by[ci]
        dxs, dys = bxc - axc, byc - ayc
        hit = np.zeros(len(ci), dtype=bool)
        corners = [
            (xmin[ci], ymin[ci], xmax[ci], ymin[ci]),
            (xmax[ci], ymin[ci], xmax[ci], ymax[ci]),
            (xmax[ci], ymax[ci], xmin[ci], ymax[ci]),
            (xmin[ci], ymax[ci], xmin[ci], ymin[ci]),
        ]
        for ex0, ey0, ex1, ey1 in corners:
            d1 = dxs * (ey0 - ayc) - dys * (ex0 - axc)
            d2 = dxs * (ey1 - ayc) - dys * (ex1 - axc)
            dex, dey = ex1 - ex0, ey1 - ey0
            d3 = dex * (ayc - ey0) - dey * (axc - ex0)
            d4 = dex * (byc - ey0) - dey * (bxc - ex0)
            hit |= (d1 * d2 <= 0) & (d3 * d4 <= 0)
        out[ci] |= hit
    return out


# ---------------------------------------------------------------------------
# kNN pruning: geodesic lower bound to a bbox (north_star scale path).
# ---------------------------------------------------------------------------

#: Safely below the WGS84 minimum radius of curvature (6,335,439 m at the
#: equator, meridional): R_GEO_LB * central-angle is a guaranteed lower
#: bound on the ellipsoidal geodesic distance, with margin for the small
#: error of computing the angle from geodetic (not reduced) latitudes.
R_GEO_LB = 6_300_000.0

#: Meters per planar degree that no geodesic can exceed: the straight
#: (lon, lat) path between two points is no longer than this times
#: their planar degree distance, because both radii of curvature peak
#: at a²/b (the poles). So Vincenty <= M_PER_DEG_MAX * planar degrees.
M_PER_DEG_MAX = np.radians(1.0) * WGS84_A * WGS84_A / WGS84_B


def _haversine_angle(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Central angle (radians) between degree coordinates, broadcast."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    dphi = p2 - p1
    dlmb = np.radians(lon2 - lon1)
    h = np.sin(dphi / 2.0) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(dlmb / 2.0) ** 2
    return 2.0 * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


def bbox_geodesic_lower_bound(
    lats: np.ndarray, lons: np.ndarray, boxes: np.ndarray
) -> np.ndarray:
    """Guaranteed lower bound in METERS on the geodesic distance from a
    point to anywhere inside/on a bbox; points inside a box get 0.

    ``boxes[..., :]`` is (lo_lon, lo_lat, hi_lon, hi_lat) and broadcasts
    against ``lats``/``lons``: (n, 1) points against (G, 4) boxes give
    the (n, G) matrix, (n,) points against (n, 4) boxes the n pairwise
    bounds. The minimizing longitude over the box is the clamped
    longitude (haversine is monotone in |Δλ| ≤ 180°); along that clamped
    meridian strip the angle as a function of box latitude has at most
    one interior critical point (tan φ* = tan φ_p / (1 - 2 sin²(Δλ/2))),
    so the exact minimum is attained at one of {lo_lat, hi_lat, clamped
    φ*}."""
    lats = np.asarray(lats, dtype=np.float64)
    lons = np.asarray(lons, dtype=np.float64)
    lo_lon, lo_lat, hi_lon, hi_lat = (boxes[..., i] for i in range(4))

    # minimizing |Δλ| over the box, WITH antimeridian wrap: 0 inside the
    # lon interval, else the smaller of the wrapped distances to the two
    # lon edges (linear clamping alone picks the wrong side when the
    # short way crosses ±180)
    def wrap_abs(d):
        d = np.abs(d) % 360.0
        return np.minimum(d, 360.0 - d)

    dlon = np.where(
        (lons >= lo_lon) & (lons <= hi_lon),
        0.0,
        np.minimum(wrap_abs(lons - lo_lon), wrap_abs(lons - hi_lon)),
    )
    dlmb = np.radians(dlon)
    s = np.sin(dlmb / 2.0) ** 2
    phi_p = np.radians(lats)
    denom = 1.0 - 2.0 * s
    with np.errstate(divide="ignore", invalid="ignore"):
        phi_star = np.degrees(np.arctan(np.tan(phi_p) / denom))
    # denom <= 0 (Δλ >= 90°): h is monotone away from the antipodal pole,
    # the critical point formula flips branch — the edge candidates still
    # bracket the true minimum, so just disable the interior candidate
    phi_star = np.where(denom > 0, phi_star, lats)
    cand_lats = (
        lo_lat,
        hi_lat,
        np.clip(phi_star, lo_lat, hi_lat),
        np.clip(lats, lo_lat, hi_lat),
    )
    # inlined haversine with the candidate-invariant terms hoisted:
    # cos(phi_p) and sin²(Δλ/2) are identical across the four candidate
    # latitudes (same ops on the same doubles as _haversine_angle)
    cos_p = np.cos(phi_p)
    ang = None
    for cl in cand_lats:
        p2 = np.radians(cl)
        h = np.sin((p2 - phi_p) / 2.0) ** 2 + cos_p * np.cos(p2) * s
        a = 2.0 * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))
        ang = a if ang is None else np.minimum(ang, a)
    return R_GEO_LB * ang


def bbox_planar_lower_bound(
    lats: np.ndarray, lons: np.ndarray, boxes: np.ndarray
) -> np.ndarray:
    """Lower bound in planar DEGREES on the distance from a point to
    anywhere inside/on a bbox — the planar-metric analogue of
    :func:`bbox_geodesic_lower_bound`, broadcasting the same way
    (point-to-rect distance; no wrap, consistent with the pure-planar
    metric)."""
    lats = np.asarray(lats, dtype=np.float64)
    lons = np.asarray(lons, dtype=np.float64)
    dx = np.maximum(np.maximum(boxes[..., 0] - lons, lons - boxes[..., 2]), 0.0)
    dy = np.maximum(np.maximum(boxes[..., 1] - lats, lats - boxes[..., 3]), 0.0)
    return np.sqrt(dx * dx + dy * dy)


# ---------------------------------------------------------------------------
# Ring self-intersection repair (builder B4 — esri OperatorSimplify
# analogue, builder/.../Main.kt:44-60).
# ---------------------------------------------------------------------------


def _seg_intersections(ring: np.ndarray) -> dict[int, list[tuple[float, np.ndarray]]]:
    """Proper/touching intersections between non-adjacent segments of one
    ring: {segment index: [(t along segment, point), ...]}. Collinear
    overlaps are ignored (degenerate inputs beyond the repair scope)."""
    n = len(ring)
    a = ring
    b = np.roll(ring, -1, axis=0)
    out: dict[int, list[tuple[float, np.ndarray]]] = {}
    # row-vectorized over j for each i (bbox prefilter first): O(n) numpy
    # passes instead of an O(n^2) interpreter loop
    lo = np.minimum(a, b)
    hi = np.maximum(a, b)
    r_all = b - a
    for i in range(n - 2):
        j0 = i + 2
        j1 = n if i > 0 else n - 1  # segment n-1 is adjacent to segment 0
        if j0 >= j1:
            continue
        js = np.arange(j0, j1)
        # bbox overlap prefilter
        ok = ~(
            (hi[js, 0] < lo[i, 0])
            | (lo[js, 0] > hi[i, 0])
            | (hi[js, 1] < lo[i, 1])
            | (lo[js, 1] > hi[i, 1])
        )
        js = js[ok]
        if not len(js):
            continue
        p, r = a[i], r_all[i]
        q, s = a[js], r_all[js]
        denom = r[0] * s[:, 1] - r[1] * s[:, 0]
        qp = q - p
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]) / denom
            u = (qp[:, 0] * r[1] - qp[:, 1] * r[0]) / denom
        hit = (
            (denom != 0.0)
            & (t >= -1e-12) & (t <= 1 + 1e-12)
            & (u >= -1e-12) & (u <= 1 + 1e-12)
            # endpoint/endpoint contacts are ordinary shared vertices,
            # not crossings
            & ~(((t < 1e-12) | (t > 1 - 1e-12)) & ((u < 1e-12) | (u > 1 - 1e-12)))
        )
        for jj, tt, uu in zip(js[hit], t[hit], u[hit]):
            pt = p + np.clip(tt, 0.0, 1.0) * r  # ONE shared coordinate
            out.setdefault(i, []).append((float(tt), pt))
            out.setdefault(int(jj), []).append((float(uu), pt))
    return out


def _any_ring_crossing(ring: np.ndarray) -> bool:
    """Cheap exact simplicity prescreen: uniform-grid bucketing of
    segment bboxes (O(n) expected for boundary-style rings) narrows to
    the candidate pairs, then the SAME intersection predicate as
    _seg_intersections runs on just those pairs. No false negatives:
    intersecting segments have overlapping bboxes, and overlapping
    bboxes share at least one grid cell. Degenerate inputs whose
    segments span many cells fall back to True (the full repair
    decides). This keeps ingest near-linear for already-simple rings —
    real timezone-boundary rings reach 10^4-10^5 vertices and the full
    n-pass check is quadratic (ADVICE r2 #1)."""
    n = len(ring)
    if n < 4:
        return False
    a = ring
    b = np.roll(ring, -1, axis=0)
    lo = np.minimum(a, b)
    hi = np.maximum(a, b)
    gx0, gy0 = float(lo[:, 0].min()), float(lo[:, 1].min())
    gx1, gy1 = float(hi[:, 0].max()), float(hi[:, 1].max())
    g = max(int(np.ceil(np.sqrt(n))), 1)
    wx = max((gx1 - gx0) / g, 1e-300)
    wy = max((gy1 - gy0) / g, 1e-300)
    ix0 = np.clip(((lo[:, 0] - gx0) / wx).astype(np.int64), 0, g - 1)
    ix1 = np.clip(((hi[:, 0] - gx0) / wx).astype(np.int64), 0, g - 1)
    iy0 = np.clip(((lo[:, 1] - gy0) / wy).astype(np.int64), 0, g - 1)
    iy1 = np.clip(((hi[:, 1] - gy0) / wy).astype(np.int64), 0, g - 1)
    spans = (ix1 - ix0 + 1) * (iy1 - iy0 + 1)
    if int(spans.sum()) > 8 * n:
        return True  # long-span segments: let the full pass decide
    # expand (segment -> covered cells) CSR-style
    seg_rep = np.repeat(np.arange(n), spans)
    heads = np.repeat(np.cumsum(spans) - spans, spans)
    k = np.arange(len(seg_rep)) - heads
    row_w = (ix1 - ix0 + 1)[seg_rep]
    cix = ix0[seg_rep] + k % row_w
    ciy = iy0[seg_rep] + k // row_w
    cell = ciy * g + cix
    order = np.argsort(cell, kind="stable")
    cell_s, seg_s = cell[order], seg_rep[order]
    # candidate pairs inside each cell (cells are tiny for sane rings)
    starts = np.nonzero(np.diff(cell_s, prepend=-1))[0]
    ends = np.append(starts[1:], len(cell_s))
    pi, pj = [], []
    for s, e in zip(starts, ends):
        if e - s < 2:
            continue
        segs = np.unique(seg_s[s:e])
        m = len(segs)
        if m < 2:
            continue
        ii, jj = np.triu_indices(m, k=1)
        pi.append(segs[ii])
        pj.append(segs[jj])
    if not pi:
        return False
    i_arr = np.concatenate(pi)
    j_arr = np.concatenate(pj)
    # drop adjacent pairs (share a vertex by construction)
    d = (j_arr - i_arr) % n
    keep = (d != 1) & (d != n - 1) & (d != 0)
    i_arr, j_arr = i_arr[keep], j_arr[keep]
    if not len(i_arr):
        return False
    # exact pair test — same predicate as _seg_intersections
    bb = ~(
        (hi[j_arr, 0] < lo[i_arr, 0])
        | (lo[j_arr, 0] > hi[i_arr, 0])
        | (hi[j_arr, 1] < lo[i_arr, 1])
        | (lo[j_arr, 1] > hi[i_arr, 1])
    )
    i_arr, j_arr = i_arr[bb], j_arr[bb]
    if not len(i_arr):
        return False
    p = a[i_arr]
    r = (b - a)[i_arr]
    q = a[j_arr]
    s = (b - a)[j_arr]
    denom = r[:, 0] * s[:, 1] - r[:, 1] * s[:, 0]
    qp = q - p
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (qp[:, 0] * s[:, 1] - qp[:, 1] * s[:, 0]) / denom
        u = (qp[:, 0] * r[:, 1] - qp[:, 1] * r[:, 0]) / denom
    hit = (
        (denom != 0.0)
        & (t >= -1e-12) & (t <= 1 + 1e-12)
        & (u >= -1e-12) & (u <= 1 + 1e-12)
        & ~(((t < 1e-12) | (t > 1 - 1e-12)) & ((u < 1e-12) | (u > 1 - 1e-12)))
    )
    return bool(hit.any())


def split_self_intersections(ring: np.ndarray, min_area: float = 1e-14) -> list[np.ndarray]:
    """Untangle a possibly self-intersecting ring into SIMPLE loops
    (public even-odd untangling: insert crossing points as vertices, then
    pop a loop every time the walk revisits a coordinate — an inserted
    crossing OR a repeated original vertex, so a figure-eight pinched at
    a shared VERTEX splits into its lobes too, each then orientation-
    normalized individually by the caller). Figure-eights split into
    their lobes, spikes and zero-area loops are dropped (reference: esri
    ``OperatorSimplify`` in cleanseRegion, builder/.../Main.kt:44-60 —
    regions empty after cleansing are filtered). A simple ring comes
    back unchanged, and a grid prescreen (_any_ring_crossing) skips the
    quadratic crossing search entirely for simple input."""
    ring = np.asarray(ring, dtype=np.float64)
    cross = _seg_intersections(ring) if _any_ring_crossing(ring) else {}

    # rebuild the cycle with crossing vertices inserted in order
    cycle: list[tuple[tuple[float, float], bool]] = []  # (coord, is_crossing)
    n = len(ring)
    for i in range(n):
        cycle.append(((float(ring[i][0]), float(ring[i][1])), False))
        for t, pt in sorted(cross.get(i, []), key=lambda x: x[0]):
            cycle.append(((round(float(pt[0]), 12), round(float(pt[1]), 12)), True))

    loops: list[np.ndarray] = []
    path: list[tuple[float, float]] = []
    pos: dict[tuple[float, float], int] = {}

    def emit(pts: list[tuple[float, float]]) -> None:
        arr = np.asarray(pts, dtype=np.float64)
        if len(arr) >= 2:
            dup = np.all(arr == np.roll(arr, 1, axis=0), axis=1)
            arr = arr[~dup]
        # spike (backtrack) removal: a vertex whose neighbors coincide is
        # a zero-area appendage esri simplify would erase
        while len(arr) >= 3:
            tip = np.all(
                np.roll(arr, 1, axis=0) == np.roll(arr, -1, axis=0), axis=1
            )
            if not tip.any():
                break
            i = int(np.nonzero(tip)[0][0])
            arr = np.delete(arr, [i, (i + 1) % len(arr)], axis=0)
        if len(arr) >= 3 and abs(ring_signed_area(arr)) > min_area:
            loops.append(arr)

    for coord, _is_crossing in cycle:
        key = coord
        # ANY revisited coordinate pops a loop: inserted crossings AND
        # repeated original vertices (vertex-pinch figure-eights — a
        # simple ring never revisits a coordinate, so this is always a
        # valid split point; ADVICE r2 #2)
        if key in pos:
            start = pos[key]
            emit(path[start:])
            for c in path[start + 1 :]:
                pos.pop(c, None)
            path = path[: start + 1]  # the crossing stays on the outer path
        else:
            path.append(key)
            pos[key] = len(path) - 1
    emit(path)
    return loops
