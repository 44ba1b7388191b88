"""Property-based correctness: for ANY random simple polygon world, the
covering index + probe must agree with direct inclusive containment, and
clipping must preserve results inside the region."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from tzengine import geom, index, oracle, probe
from tzengine.zones import ZonePiece, _rect, make_piece

from probe_helpers import deadline, dense_knn_names, ranks_to_tzids


def star_piece(seed: int, zone_id: str, ordinal: int, cx: float, cy: float,
               scale: float, verts: int) -> ZonePiece:
    rng = np.random.default_rng(seed)
    ang = np.linspace(0, 2 * np.pi, verts, endpoint=False)
    radii = rng.uniform(0.3, 1.0, verts) * scale
    lon = geom.f32(cx + radii * np.cos(ang))[::-1]
    lat = geom.f32(cy + radii * np.sin(ang))[::-1]
    return ZonePiece(zone_id, 0, ordinal, [np.stack([lon, lat], axis=1)])


@settings(max_examples=30, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=10_000),
    verts=st.integers(min_value=4, max_value=40),
    depth=st.integers(min_value=2, max_value=6),
)
def test_index_probe_equals_direct_pip(seed, verts, depth):
    rng = np.random.default_rng(seed + 500_000)
    pieces = [
        star_piece(seed, "Zone/A", 0, 0.0, 0.0, 3.0, verts),
        star_piece(seed + 1, "Zone/B", 1, 1.5, 1.0, 2.0, verts),
    ]
    idx = index.compile_index(
        pieces, -90, -180, 90, 180, world_version="prop", depth=depth
    )
    lats = rng.uniform(-4.5, 4.5, 400)
    lons = rng.uniform(-4.5, 4.5, 400)
    offs, ranks, valid = probe.probe_ranks(idx, lats, lons, mode="strict")
    _, tzids = ranks_to_tzids(idx, offs, ranks, valid)

    pts = np.stack([lons, lats], axis=1)
    # direct, index-free truth — note rank order comes from area sort
    order = sorted(range(2), key=lambda i: (pieces[i].area2d, pieces[i].ordinal))
    for i in range(len(lats)):
        want = [
            pieces[j].zone_id
            for j in order
            if geom.contains_inclusive(pts[i : i + 1], pieces[j].rings)[0]
        ]
        assert tzids[i] == want, (seed, verts, depth, lats[i], lons[i])


@settings(max_examples=20, deadline=None)
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_clip_preserves_in_region_results(seed):
    piece = star_piece(seed, "Zone/A", 0, 0.0, 0.0, 3.0, 24)
    whole = index.compile_index([piece], -90, -180, 90, 180, world_version="p")
    scoped = index.compile_index([piece], -1.0, -1.0, 1.0, 1.0, world_version="p")
    rng = np.random.default_rng(seed)
    lats = rng.uniform(-1.0, 1.0, 200)
    lons = rng.uniform(-1.0, 1.0, 200)
    o1, r1, v1 = probe.probe_ranks(whole, lats, lons, mode="strict")
    _, t1 = ranks_to_tzids(whole, o1, r1, v1)
    o2, r2, v2 = probe.probe_ranks(scoped, lats, lons, mode="strict")
    _, t2 = ranks_to_tzids(scoped, o2, r2, v2)
    assert t1 == t2


@settings(max_examples=50, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=100_000),
    xmin=st.floats(min_value=-2, max_value=0.5),
    ymin=st.floats(min_value=-2, max_value=0.5),
    w=st.floats(min_value=0.1, max_value=3),
    h=st.floats(min_value=0.1, max_value=3),
)
def test_clip_area_never_grows(seed, xmin, ymin, w, h):
    piece = star_piece(seed, "Z", 0, 0.0, 0.0, 2.0, 16)
    ring = piece.rings[0]
    clipped = oracle.clip_ring_to_box(ring, xmin, ymin, xmin + w, ymin + h)
    a0 = abs(geom.ring_signed_area(ring))
    if len(clipped):
        a1 = abs(geom.ring_signed_area(clipped))
        assert a1 <= a0 + 1e-9
        assert a1 <= w * h + 1e-9
        # clipped vertices stay inside the box
        assert clipped[:, 0].min() >= xmin - 1e-9
        assert clipped[:, 0].max() <= xmin + w + 1e-9
        assert clipped[:, 1].min() >= ymin - 1e-9
        assert clipped[:, 1].max() <= ymin + h + 1e-9


@settings(max_examples=50, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=100_000),
    xmin=st.floats(min_value=-2, max_value=0.5),
    ymin=st.floats(min_value=-2, max_value=0.5),
    w=st.floats(min_value=0.1, max_value=3),
    h=st.floats(min_value=0.1, max_value=3),
)
def test_split_clip_conserves_area_and_components_disjoint(seed, xmin, ymin, w, h):
    # the component-splitting clip must cover exactly the same region as
    # the ring-by-ring Sutherland-Hodgman clip: total |area| equal, and
    # random points agree on containment
    piece = star_piece(seed, "Z", 0, 0.0, 0.0, 2.0, 16)
    comps = geom.clip_rings_to_box_split(
        piece.rings, xmin, ymin, xmin + w, ymin + h
    )
    sh = oracle.clip_rings_to_box(piece.rings, xmin, ymin, xmin + w, ymin + h)
    a_split = sum(abs(geom.polygon_area2d(c)) for c in comps)
    a_sh = abs(geom.polygon_area2d(sh)) if sh else 0.0
    assert a_split == pytest.approx(a_sh, rel=1e-9, abs=1e-12)

    rng = np.random.default_rng(seed)
    pts = np.stack(
        [rng.uniform(xmin + 1e-6, xmin + w - 1e-6, 100),
         rng.uniform(ymin + 1e-6, ymin + h - 1e-6, 100)], axis=1
    )
    if sh:
        in_sh = geom.contains_inclusive(pts, sh)
        in_split = np.zeros(len(pts), dtype=bool)
        for c in comps:
            in_split |= geom.contains_inclusive(pts, c)
        # boundary-epsilon points may differ on the clip edge; interior
        # sample points must agree
        assert (in_sh == in_split).mean() >= 0.99


@given(seed=st.integers(0, 10_000), n=st.integers(4, 60))
@settings(max_examples=120, deadline=None)
def test_prescreen_never_false_negative(seed, n):
    """_any_ring_crossing is an exact prescreen: whenever the full
    O(n^2) search finds a crossing, the prescreen must say True (a
    false negative would make split_self_intersections silently skip
    the repair). False positives are allowed (degenerate-span bail)."""
    rng = np.random.default_rng(seed)
    ring = rng.uniform(-5, 5, size=(n, 2))
    full = geom._seg_intersections(ring)
    if full:
        assert geom._any_ring_crossing(ring)


@given(seed=st.integers(0, 10_000))
@settings(max_examples=60, deadline=None)
def test_split_loops_are_simple_random_rings(seed):
    """Every loop split_self_intersections emits is simple (no
    crossings, no repeated coordinates) — including vertex-pinch input
    (the walk pops on any revisited coordinate)."""
    rng = np.random.default_rng(seed)
    n = int(rng.integers(4, 24))
    ring = np.round(rng.uniform(-4, 4, size=(n, 2)), 2)
    for loop in geom.split_self_intersections(ring):
        assert len(loop) >= 3
        assert not geom._any_ring_crossing(loop)
        assert len({tuple(v) for v in loop}) == len(loop)


@settings(max_examples=40, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=100_000),
    n_pieces=st.integers(min_value=1, max_value=7),
    clip=st.booleans(),
    k=st.sampled_from([1, 2, 3, 4]),
    metric=st.sampled_from(probe.METRICS),
)
def test_knn_equals_dense_sweep(seed, n_pieces, clip, k, metric):
    """kNN from the compile-time cell lists equals the dense (points x
    pieces) sweep on random worlds (some zones with two pieces, some
    regions clipping them), for points on cell edges and corners, at
    +-90 and +-180, outside the grid or the region, and NaN."""
    rng = np.random.default_rng(seed)
    pieces = []
    for i in range(n_pieces):
        scale = float(rng.uniform(0.5, 12.0))
        cy = float(rng.uniform(-90.0 + scale, 90.0 - scale))
        cx = float(rng.uniform(-180.0 + scale, 180.0 - scale))
        pieces.append(star_piece(seed + i, f"Zone/{i % 5}", i, cx, cy, scale,
                                 int(rng.integers(4, 24))))
    if seed % 3 == 0:  # a polar cap: list cells reach past the pole
        lat0 = float(rng.uniform(60.0, 89.0))
        pieces.append(make_piece("Zone/Cap", 0, n_pieces,
                                 [_rect(lat0, -180.0, 90.0, 180.0)]))
    region = (-90.0, -180.0, 90.0, 180.0)
    if clip:
        lat0, lon0 = rng.uniform(-80, 20), rng.uniform(-170, 60)
        region = (lat0, lon0, lat0 + rng.uniform(10, 70),
                  lon0 + rng.uniform(10, 110))
    try:
        idx = index.compile_index(pieces, *region, world_version="knn")
    except ValueError:  # every piece clipped away
        return
    if not idx.n_pieces:
        return
    glon, glat, step, nx, ny = idx.knn_grid
    i, j = rng.integers(0, nx + 1, 12), rng.integers(0, ny + 1, 12)
    edge_lon, edge_lat = glon + i * step, glat + j * step
    lats = np.r_[
        edge_lat, edge_lat, np.nextafter(edge_lat, -np.inf),
        rng.uniform(glat - 5, glat + ny * step + 5, 12),
        90.0, -90.0, 90.0, -90.0, 0.0, np.nan, 1.0,
    ]
    lons = np.r_[
        edge_lon, rng.uniform(glon, glon + nx * step, 12),
        np.nextafter(edge_lon, np.inf),
        rng.uniform(glon - 5, glon + nx * step + 5, 12),
        180.0, -180.0, -180.0, 180.0, 180.0, 1.0, np.nan,
    ]
    lats, lons = np.clip(lats, -90, 90), np.clip(lons, -180, 180)
    with deadline(60):
        got = probe.knn_zones_batch(idx, lats, lons, k, metric=metric)
    names = [[idx.zone_ids[r] for r in row] for row in got.to_pylist()]
    assert names == dense_knn_names(idx, lats, lons, k, metric=metric)
