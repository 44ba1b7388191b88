"""Geometry-kernel golden tests.

Structural ports of the reference's UtilTest.java:60-81 (containsInclusive
truth table) and TimeZoneTest.java:16-61 (getDistanceFromBoundary goldens)
onto the numpy kernel. Coordinates go through float32 exactly like the
reference (Java `float` literals widened to double).
"""

import numpy as np
import pytest

from tzengine import geom, oracle


def square_with_island_rings():
    """UtilTest.java:17-58 fixture: outer square (lat 1..2, lon 1..2),
    CCW hole in the upper-left quadrant, CW island inside the hole.
    Rings as (lon, lat) float32-widened arrays."""

    def ring(latlon):
        arr = geom.f32(np.array(latlon, dtype=np.float64))
        return arr[:, ::-1].copy()  # (lat,lon) -> (lon,lat)

    outer = ring([[2, 1], [2, 2], [1, 2], [1, 1]])
    hole = ring([[1.9, 1.1], [1.5, 1.1], [1.5, 1.5], [1.9, 1.5]])
    island = ring([[1.7, 1.2], [1.7, 1.3], [1.6, 1.3], [1.6, 1.2]])
    return [outer, hole, island]


RINGS = square_with_island_rings()


def pt(lat, lon):
    """A query point the way the Java tests make one: float literals."""
    return np.array([[float(np.float32(lon)), float(np.float32(lat))]])


# --- UtilTest.java:60-81 truth table -------------------------------------

CONTAINS_CASES = [
    (1.65, 1.0, True, "on outer left side"),
    (1.65, 1.1, True, "on hole left side"),
    (1.65, 1.2, True, "on island left side"),
    (1.0, 1.0, True, "outer lower-left corner"),
    (1.5, 1.5, True, "hole corner"),
    (1.6, 1.3, True, "island corner"),
    (1.3, 1.3, True, "interior of main area"),
    (1.65, 1.25, True, "interior of island"),
    (10.0, 10.0, False, "far outside"),
    (1.8, 1.4, False, "inside hole"),
]


@pytest.mark.parametrize("lat,lon,expected,label", CONTAINS_CASES)
def test_contains_inclusive(lat, lon, expected, label):
    got = geom.contains_inclusive(pt(lat, lon), RINGS)[0]
    assert bool(got) == expected, label


def test_contains_inclusive_vectorized_batch():
    pts = np.vstack([pt(lat, lon) for lat, lon, _, _ in CONTAINS_CASES])
    got = geom.contains_inclusive(pts, RINGS)
    want = np.array([e for _, _, e, _ in CONTAINS_CASES])
    assert np.array_equal(got, want)


# --- TimeZoneTest.java:16-61 distance goldens -----------------------------

DIST_CASES = [
    (2.0, 2.0, 0.0, 1e-9),
    (1.5, 2.0, 0.0, 1e-9),
    (1.5, 1.5, 0.0, 1e-9),
    (1.7, 1.5, 0.0, 1e-9),
    (1.7, 1.2, 0.0, 1e-9),
    (1.7, 1.25, 0.0, 1e-9),
    (1.5, 1.999, 111.286, 0.001),
    (1.5, 1.99, 1112.86, 0.1),
    (1.5, 1.9, 11128.0, 1.0),
    (1.8, 1.999, 111.270, 0.001),
    (1.001, 1.5, 110.579, 0.001),
    (1.01, 1.5, 1105.79, 0.1),
    (1.1, 1.5, 11057.9, 1.0),
    (1.25, 1.4, 27643.67, 0.01),
    (1.30, 1.4, 22114.97, 0.03),
    (1.20, 1.4, 22114.97, 0.03),
    (1.65, 1.501, 111.278, 0.001),
    (1.65, 1.201, 111.265, 0.001),
    (1.601, 1.25, 110.567, 0.001),
    (1.65, 1.25, 5563.676, 0.001),
]


@pytest.mark.parametrize("lat,lon,expected,tol", DIST_CASES)
def test_distance_from_boundary(lat, lon, expected, tol):
    p = pt(lat, lon)
    assert geom.contains_inclusive(p, RINGS)[0], "golden points are inside"
    got = oracle.distance_from_boundary(p, RINGS)[0]
    assert got == pytest.approx(expected, abs=tol)


def test_distance_outside_points_guard():
    # TimeZoneTest.java:19-24 — outside / in-hole points are rejected by
    # the caller-level guard (TimeZone.kt:43); kernel reports not-contained.
    assert not geom.contains_inclusive(pt(10, 10), RINGS)[0]
    assert not geom.contains_inclusive(pt(1.8, 1.4), RINGS)[0]


# --- area semantics (TimeZoneMap.kt:217 sort key) --------------------------


def test_polygon_area2d_hole_island():
    # outer 1.0 deg^2, hole 0.4*0.4=0.16, island 0.1*0.1=0.01
    area = geom.polygon_area2d(RINGS)
    assert area == pytest.approx(1.0 - 0.16 + 0.01, abs=1e-6)


def test_ring_orientation_signs():
    outer = RINGS[0]  # CW in (lon,lat)
    assert geom.ring_signed_area(outer) < 0
    hole = RINGS[1]  # CCW
    assert geom.ring_signed_area(hole) > 0


# --- clip ------------------------------------------------------------------


def test_clip_ring_passthrough_and_cut():
    outer = RINGS[0]
    clipped = oracle.clip_ring_to_box(outer, 0.0, 0.0, 3.0, 3.0)
    assert geom.polygon_area2d([clipped]) == pytest.approx(1.0, abs=1e-9)
    half = oracle.clip_ring_to_box(outer, 1.5, 0.0, 3.0, 3.0)
    assert geom.polygon_area2d([half]) == pytest.approx(0.5, abs=1e-6)
    gone = oracle.clip_ring_to_box(outer, 5.0, 5.0, 6.0, 6.0)
    assert len(gone) == 0


def test_clip_boundary_becomes_real_boundary():
    # TimeZone.kt:26-28 / TimeZoneMapTest.java:332-348: after clipping, the
    # clip edge counts as zone boundary for distance queries.
    outer = RINGS[0]
    clipped = oracle.clip_ring_to_box(outer, 1.0, 1.0, 1.5, 3.0)
    d = oracle.distance_from_boundary(np.array([[1.499, 1.2]]), [clipped])[0]
    # ~0.001 deg of longitude at lat 1.2 ≈ 111.29 m
    assert d == pytest.approx(111.29, abs=0.5)


def test_segments_box_touch():
    seg_a, seg_b = geom._segments([RINGS[0]])

    def touches(*box):
        boxes = np.broadcast_to(np.array(box), (len(seg_a), 4))
        hit = geom.segments_box_touch(seg_a, seg_b, boxes)
        assert hit.shape == (len(seg_a),)
        return bool(hit.any())

    assert touches(0.9, 0.9, 1.1, 1.1)
    assert not touches(1.2, 1.2, 1.4, 1.4)
    assert not touches(0.0, 0.0, 5.0, 0.99)
    # box crossing the bottom edge
    assert touches(1.2, 0.5, 1.4, 1.5)


# --- B4 self-intersection repair (esri OperatorSimplify analogue) ----------


def test_split_bowtie_into_lobes():
    import numpy as np
    from tzengine import geom

    bow = np.array([[0, 0], [2, 2], [2, 0], [0, 2]], dtype=float)
    loops = geom.split_self_intersections(bow)
    assert len(loops) == 2
    areas = sorted(abs(geom.ring_signed_area(l)) for l in loops)
    assert areas == [1.0, 1.0]  # two unit triangles
    # containment over the repaired loops: both lobes inside, waist point
    # (the crossing) on the boundary, outside stays outside
    assert geom.contains_inclusive(np.array([[0.5, 1.0]]), loops)[0]
    assert geom.contains_inclusive(np.array([[1.5, 1.0]]), loops)[0]
    assert not geom.contains_inclusive(np.array([[1.0, 1.8]]), loops)[0]


def test_split_spike_removed():
    import numpy as np
    from tzengine import geom

    spike = np.array(
        [[0, 0], [4, 0], [4, 4], [2, 4], [2, 6], [2, 4], [0, 4]], dtype=float
    )
    loops = geom.split_self_intersections(spike)
    assert len(loops) == 1
    # spike tip erased: no vertex appears twice (the [2,6] backtrack and
    # one duplicated [2,4] are gone; a collinear midpoint may remain)
    uniq = {tuple(v) for v in loops[0]}
    assert len(uniq) == len(loops[0]) and (2.0, 6.0) not in uniq
    assert abs(geom.ring_signed_area(loops[0])) == 16.0


def test_split_simple_ring_unchanged():
    import numpy as np
    from tzengine import geom

    sq = np.array([[0, 0], [0, 3], [3, 3], [3, 0]], dtype=float)
    loops = geom.split_self_intersections(sq)
    assert len(loops) == 1 and np.array_equal(loops[0], sq)


def test_split_vertex_pinch_figure_eight():
    # a figure-eight pinched at a repeated VERTEX (endpoint/endpoint
    # contact, no segment crossing) must split into its two lobes —
    # ADVICE r2 #2: the crossing inserter excludes endpoint contacts, so
    # the walk must pop on repeated original vertices too
    import numpy as np
    from tzengine import geom

    eight = np.array(
        [[0, 0], [2, 0], [2, 2], [0, 2], [0, 0], [-2, 0], [-2, -2], [0, -2]],
        dtype=float,
    )
    loops = geom.split_self_intersections(eight)
    assert len(loops) == 2
    areas = sorted(abs(geom.ring_signed_area(l)) for l in loops)
    assert areas == [4.0, 4.0]
    # every emitted loop is simple (the docstring promise)
    for l in loops:
        assert not geom._any_ring_crossing(l)
        assert len({tuple(v) for v in l}) == len(l)


def test_split_opposite_winding_pinch_orients_per_lobe():
    # lobes winding oppositely: after the pinch split each lobe is
    # normalized INDIVIDUALLY (the combined signed area of the unsplit
    # eight is ~0 and would mis-orient one lobe)
    import numpy as np
    from tzengine import geom
    from tzengine.geojson import _normalize_ring

    eight = [
        [0, 0], [2, 0], [2, 2], [0, 2],   # CCW lobe
        [0, 0], [0, -2], [2, -2], [2, 0e0],
    ]
    eight = [[float(x), float(y)] for x, y in eight]
    out = _normalize_ring(eight + [eight[0]], want_cw=True)
    assert len(out) == 2
    for loop in out:
        assert geom.ring_signed_area(loop) < 0  # all enforced CW


def test_simplicity_prescreen_skips_quadratic_search(monkeypatch):
    # ADVICE r2 #1: simple rings must NOT run the O(n^2) crossing search
    import numpy as np
    from tzengine import geom

    called = []
    real = geom._seg_intersections

    def spy(ring):
        called.append(len(ring))
        return real(ring)

    monkeypatch.setattr(geom, "_seg_intersections", spy)
    th = np.linspace(0, 2 * np.pi, 5000, endpoint=False)
    big_simple = np.stack([np.cos(th), np.sin(th)], axis=1)
    loops = geom.split_self_intersections(big_simple)
    assert len(loops) == 1 and len(loops[0]) == 5000
    assert called == []  # prescreen said simple -> full search skipped

    bow = np.array([[0, 0], [2, 2], [2, 0], [0, 2]], dtype=float)
    assert len(geom.split_self_intersections(bow)) == 2
    assert called == [4]  # crossing detected -> full repair ran


def test_b4_shared_edge_degenerate_ring():
    # B4 parity stress (VERDICT r2 #9): a ring that doubles back along a
    # SHARED EDGE (two sub-rects joined by a zero-width corridor run
    # twice). esri OperatorSimplify erases the zero-area corridor and
    # keeps the two lobes; the engine must produce simple loops whose
    # total area equals the true covered area, with the corridor gone.
    import numpy as np
    from tzengine import geom

    # square [0,2]x[0,2] + square [4,6]x[0,2] joined by edge y=1, x 2->4
    # traversed out and back (zero width)
    ring = np.array(
        [
            [0, 0], [2, 0], [2, 1], [4, 1],       # corridor out
            [4, 0], [6, 0], [6, 2], [4, 2],
            [4, 1], [2, 1],                        # corridor back (same edge)
            [2, 2], [0, 2],
        ],
        dtype=float,
    )
    loops = geom.split_self_intersections(ring)
    for l in loops:
        assert len({tuple(v) for v in l}) == len(l)
    total = sum(abs(geom.ring_signed_area(l)) for l in loops)
    assert total == 8.0  # two 2x2 lobes, corridor contributes nothing
    # corridor midpoint is not interior
    assert not geom.points_in_rings_evenodd(
        np.array([[3.0, 1.0 + 1e-9]]), *geom._segments(loops)
    )[0]


def test_b4_ring_overlaps_ring_even_odd_semantics():
    # B4 parity stress: RING-OVERLAPS-RING (a second ring of the same
    # polygon sticking partly outside the first — degenerate input esri
    # OperatorSimplify would rebuild into OGC-valid rings). Each ring is
    # individually simple, so the per-ring repair passes both through
    # unchanged, and containment follows the even-odd rule over the
    # combined segment set: single-covered regions are IN, the doubly-
    # covered lens is OUT. This matches the alternate-fill reading of
    # the degenerate input; the intentional divergence from esri (which
    # would union overlapping OUTER rings) is documented in COVERAGE.md.
    import numpy as np
    from tzengine import geom

    outer = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
    over = np.array([[2, 1], [6, 1], [6, 3], [2, 3]], dtype=float)
    assert len(geom.split_self_intersections(outer)) == 1
    assert len(geom.split_self_intersections(over)) == 1
    segs = geom._segments([outer, over])
    # outer-only region: inside
    assert geom.points_in_rings_evenodd(np.array([[1.0, 2.0]]), *segs)[0]
    # overlap lens (covered by both rings): even-odd -> outside
    assert not geom.points_in_rings_evenodd(np.array([[3.0, 2.0]]), *segs)[0]
    # second-ring-only region: inside
    assert geom.points_in_rings_evenodd(np.array([[5.0, 2.0]]), *segs)[0]


def _evenodd_dense(pts, sa, sb):
    """Dense N x S even-odd reference: straddle matrix, crossing x of
    every straddling pair, parity of the crossings right of the point."""
    py = pts[:, 1][:, None]
    strad = (sa[:, 1][None, :] > py) != (sb[:, 1][None, :] > py)
    rows, cols = np.nonzero(strad)
    x_at = sa[cols, 0] + (pts[rows, 1] - sa[cols, 1]) * (
        sb[cols, 0] - sa[cols, 0]
    ) / (sb[cols, 1] - sa[cols, 1])
    return (
        np.bincount(rows[pts[rows, 0] < x_at], minlength=len(pts)) & 1
    ).astype(bool)


@pytest.mark.parametrize(
    "budget", [None, 1, 5], ids=["default_budget", "budget_1", "budget_5"]
)
def test_points_in_rings_evenodd_matches_dense_fuzz(budget, monkeypatch):
    """The sparse even-odd kernel must agree bit-for-bit with the dense
    straddle matrix on grids and arbitrary point sets, ys equal to
    vertex ys, horizontal edges, duplicate ys, NaN and +-inf
    coordinates, and with a pair budget small enough to chunk."""
    if budget is not None:
        monkeypatch.setattr(geom, "EVENODD_PAIR_CHUNK", budget)
    rng = np.random.default_rng(7)
    special = np.array([np.nan, np.inf, -np.inf, 0.0, -0.0])
    for trial in range(120):
        m = int(rng.integers(3, 60))
        ang = np.sort(rng.uniform(0, 2 * np.pi, m))
        r = rng.uniform(0.5, 3.0, m)
        ring = np.stack([np.cos(ang) * r, np.sin(ang) * r], axis=1)
        if trial % 3 == 0:
            ring = np.round(ring * 2) / 2  # horizontal edges, shared ys
        rings = [ring, ring * 0.4] if trial % 4 == 0 else [ring]
        sa, sb = geom._segments(rings)
        kind = trial % 5
        if kind == 0:  # grid, a few rows on vertex ys
            gx = rng.uniform(-4, 4, 16)
            gy = np.concatenate([rng.uniform(-4, 4, 6), rng.choice(sa[:, 1], 4)])
            pts = np.stack(np.meshgrid(gx, gy), axis=-1).reshape(-1, 2)
        elif kind == 1:  # arbitrary
            pts = rng.uniform(-4, 4, (int(rng.choice([1, 40, 400])), 2))
        elif kind == 2:  # exact vertices
            pts = np.vstack([sa, rng.uniform(-4, 4, (30, 2))])
        elif kind == 3:  # duplicate ys, all on vertex ys
            pts = rng.uniform(-4, 4, (60, 2))
            pts[:, 1] = rng.choice(sa[:, 1], 60)
        else:  # NaN, +-inf and signed zeros in either coordinate
            pts = rng.uniform(-4, 4, (80, 2))
            pts[:20, 0] = rng.choice(special, 20)
            pts[20:40, 1] = rng.choice(special, 20)
        got = geom.points_in_rings_evenodd(pts, sa, sb)
        np.testing.assert_array_equal(
            got, _evenodd_dense(pts, sa, sb), err_msg=f"trial {trial}"
        )


def test_segments_box_touch_matches_dense_matrix_fuzz():
    """The elementwise segment-box test over every (box, segment) pair
    must equal the dense oracle matrix — on aligned grids, overlapping
    unaligned boxes, degenerate (point) segments and segments lying
    exactly on cell boundaries."""
    rng = np.random.default_rng(123)

    def check(a, b, boxes, msg=""):
        C, S = len(boxes), len(a)
        rows = np.repeat(np.arange(C), S)
        cols = np.tile(np.arange(S), C)
        got = geom.segments_box_touch(a[cols], b[cols], boxes[rows])
        want = oracle.segments_box_matrix(a, b, boxes)
        np.testing.assert_array_equal(got.reshape(C, S), want, err_msg=msg)
        return want

    for trial in range(60):
        S = int(rng.integers(1, 150))
        a = rng.uniform(-12, 12, (S, 2))
        b = a + rng.normal(0, 1.2, (S, 2))
        if trial % 4 == 0:
            b[:: 3] = a[:: 3]  # degenerate point segments
        if trial % 5 == 0:
            a[:, 0] = np.round(a[:, 0])  # endpoints exactly on grid lines
        w = float(rng.uniform(0.7, 4.0))
        if trial % 6 == 3:
            # integer segments on a unit grid: exact corner and edge
            # contacts, where the orientation products are exactly 0
            a, b, w = np.round(a), np.round(b), 1.0
        if trial % 3 == 2:
            # overlapping boxes of mixed sizes, not on any grid
            lo = rng.uniform(-14, 10, (50, 2))
            boxes = np.hstack([lo, lo + rng.uniform(0.1, 5.0, (50, 2))])
        else:
            ix = rng.integers(0, 9, 50)
            iy = rng.integers(0, 9, 50)
            boxes = np.stack(
                [-12 + ix * w, -12 + iy * w,
                 -12 + (ix + 1) * w, -12 + (iy + 1) * w],
                axis=1,
            )
        want = check(a, b, boxes, f"trial {trial}")
        assert want.any() and not want.all()

    # uniform-size boxes off the grid, overlapping: a segment crossing
    # only the second box touches only it
    boxes = np.array([[0.0, 0.0, 1.0, 1.0], [0.3, 0.0, 1.3, 1.0]])
    want = check(np.array([[1.2, -0.5]]), np.array([[1.2, 1.5]]), boxes)
    assert want[:, 0].tolist() == [False, True]
    # a segment grazing only a box corner, both endpoints outside
    boxes = np.array([[0.0, 0.0, 1.0, 1.0], [0.5, 0.0, 1.5, 1.0]])
    want = check(np.array([[-1.0, 0.0]]), np.array([[1.0, 2.0]]), boxes)
    assert want[:, 0].tolist() == [True, False]


def test_vincenty_is_batch_independent():
    """The geodesic distance must be a pure function of the row:
    splitting a batch must not change any value (a batch-level
    convergence break would make the last ~1e-13 of lambda depend on
    the slowest row in the batch)."""
    rng = np.random.default_rng(44)
    n = 500
    lat1 = rng.uniform(-80, 80, n)
    lon1 = rng.uniform(-179, 179, n)
    lat2 = lat1 + rng.normal(0, 2.0, n)
    lon2 = lon1 + rng.normal(0, 2.0, n)
    full = geom.geodesic_distance_wgs84(lat1, lon1, lat2, lon2)
    # the strongest partitioning: every row evaluated as a SINGLETON batch
    singles = np.array([
        geom.geodesic_distance_wgs84(
            lat1[i:i + 1], lon1[i:i + 1], lat2[i:i + 1], lon2[i:i + 1]
        )[0]
        for i in range(n)
    ])
    np.testing.assert_array_equal(full, singles)
    # and an uneven split
    parts = np.concatenate([
        geom.geodesic_distance_wgs84(
            lat1[:77], lon1[:77], lat2[:77], lon2[:77]),
        geom.geodesic_distance_wgs84(
            lat1[77:], lon1[77:], lat2[77:], lon2[77:]),
    ])
    np.testing.assert_array_equal(full, parts)


def test_geodesic_metric_aliases_and_default():
    """The default metric is "geodesic", bit for bit; the old variant
    names and other unknown names raise."""
    from tzengine import index as indexmod, probe
    from tzengine.zones import synthetic_world

    assert probe.METRICS == ("geodesic", "planar_deg")
    idx = indexmod.compile_index(synthetic_world(), -90, -180, 90, 180, "s1")
    rng = np.random.default_rng(7)
    lats = rng.uniform(0.2, 9.7, 64)
    lons = rng.uniform(0.2, 9.7, 64)
    offsets, ranks, _valid = probe.probe_ranks(idx, lats, lons, mode="pipeline")
    zids = [
        idx.zone_ids[ranks[offsets[i]]] if offsets[i + 1] > offsets[i] else None
        for i in range(len(lats))
    ]
    d_def = probe.distance_from_boundary_batch(
        idx, zids, lats, lons, mode="pipeline")
    d_geo = probe.distance_from_boundary_batch(
        idx, zids, lats, lons, mode="pipeline", metric="geodesic")
    np.testing.assert_array_equal(d_def, d_geo)
    assert (d_def > 0).any()
    for name in ("geodesic_fixed", "geodesic_freeze", "vincenty"):
        with pytest.raises(ValueError, match="unknown metric"):
            probe.distance_from_boundary_batch(
                idx, zids, lats, lons, mode="pipeline", metric=name)
        with pytest.raises(ValueError, match="unknown metric"):
            probe.knn_zones_batch(idx, lats, lons, 3, metric=name)
        with pytest.raises(ValueError, match="unknown metric"):
            probe.containing_distances(idx, lats, lons, name)


def _vincenty_reference(lat1, lon1, lat2, lon2):
    """The plain Vincenty loop, every row through all 50 iterations —
    what geom.geodesic_distance_wgs84 must reproduce bit for bit."""
    a, b, f = geom.WGS84_A, geom.WGS84_B, geom.WGS84_F
    lat1, lon1, lat2, lon2 = (
        np.asarray(x, dtype=np.float64) for x in (lat1, lon1, lat2, lon2)
    )
    U1 = np.arctan((1 - f) * np.tan(np.radians(lat1)))
    U2 = np.arctan((1 - f) * np.tan(np.radians(lat2)))
    L = np.radians(lon2 - lon1)
    sinU1, cosU1, sinU2, cosU2 = np.sin(U1), np.cos(U1), np.sin(U2), np.cos(U2)
    lam = L.copy()
    with np.errstate(divide="ignore", invalid="ignore"):
        for _ in range(50):
            sin_lam, cos_lam = np.sin(lam), np.cos(lam)
            sin_sigma = np.sqrt(
                (cosU2 * sin_lam) ** 2
                + (cosU1 * sinU2 - sinU1 * cosU2 * cos_lam) ** 2
            )
            cos_sigma = sinU1 * sinU2 + cosU1 * cosU2 * cos_lam
            sigma = np.arctan2(sin_sigma, cos_sigma)
            sin_alpha = np.where(
                sin_sigma != 0, cosU1 * cosU2 * sin_lam / sin_sigma, 0.0
            )
            csa = 1.0 - sin_alpha**2
            c2m = np.where(
                csa != 0,
                cos_sigma - 2.0 * sinU1 * sinU2 / np.where(csa == 0, 1.0, csa),
                0.0,
            )
            C = f / 16.0 * csa * (4.0 + f * (4.0 - 3.0 * csa))
            lam_new = L + (1.0 - C) * f * sin_alpha * (
                sigma + C * sin_sigma
                * (c2m + C * cos_sigma * (-1.0 + 2.0 * c2m**2))
            )
            lam = lam_new
    u_sq = csa * (a**2 - b**2) / b**2
    A = 1.0 + u_sq / 16384.0 * (
        4096.0 + u_sq * (-768.0 + u_sq * (320.0 - 175.0 * u_sq))
    )
    B = u_sq / 1024.0 * (256.0 + u_sq * (-128.0 + u_sq * (74.0 - 47.0 * u_sq)))
    delta_sigma = B * sin_sigma * (
        c2m + B / 4.0 * (
            cos_sigma * (-1.0 + 2.0 * c2m**2)
            - B / 6.0 * c2m * (-3.0 + 4.0 * sin_sigma**2)
            * (-3.0 + 4.0 * c2m**2)
        )
    )
    same = (lat1 == lat2) & (lon1 == lon2)
    return np.where(same, 0.0, b * A * (sigma - delta_sigma))


def test_vincenty_fixed_point_exit_bit_identical():
    """Rows leave the loop at their float64 fixed point; every value must
    stay bitwise the 50-iteration loop's, in any batch shape."""
    rng = np.random.default_rng(45)
    n = 3000
    lat1 = rng.uniform(-89, 89, n)
    lon1 = rng.uniform(-180, 180, n)
    lat2 = np.clip(lat1 + rng.normal(0, 3.0, n), -90, 90)
    lon2 = lon1 + rng.normal(0, 3.0, n)
    lat2[:300] = rng.uniform(-90, 90, 300)  # far pairs
    lon2[:300] = rng.uniform(-180, 180, 300)
    lat2[300:320] = -lat1[300:320]  # antipodal
    lon2[300:320] = lon1[300:320] + 180.0
    lat1[320], lon1[320], lat2[320], lon2[320] = 0.0, 0.0, 0.0, 180.0
    lat2[330:340], lon2[330:340] = lat1[330:340], lon1[330:340]  # coincident
    lat1[340:345] = np.nan
    lon2[345:350] = np.nan

    def bits(x):
        return np.asarray(x, dtype=np.float64).view(np.int64)

    want = _vincenty_reference(lat1, lon1, lat2, lon2)
    assert np.isnan(want).any() and (want == 0).any()

    def got(sel):
        return geom.geodesic_distance_wgs84(
            lat1[sel], lon1[sel], lat2[sel], lon2[sel]
        )

    assert np.array_equal(bits(got(slice(None))), bits(want))
    perm = rng.permutation(n)
    assert np.array_equal(bits(got(perm)), bits(want[perm]))
    assert np.array_equal(bits(got(slice(7, 1999))), bits(want[7:1999]))
    for i in list(range(295, 350)) + [0, n - 1]:
        assert np.array_equal(bits(got(slice(i, i + 1))), bits(want[i:i + 1]))
