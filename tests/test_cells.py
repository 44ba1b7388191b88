"""Cell-scheme invariants: round-trips, nesting, determinism, bounds."""

import numpy as np
from hypothesis import given, settings, strategies as st

from tzengine import cells


def test_morton_roundtrip():
    rng = np.random.default_rng(42)
    ix = rng.integers(0, 1 << 28, size=1000).astype(np.uint64)
    iy = rng.integers(0, 1 << 28, size=1000).astype(np.uint64)
    m = cells.morton_encode(ix, iy)
    dx, dy = cells.morton_decode(m)
    assert np.array_equal(dx, ix)
    assert np.array_equal(dy, iy)


def test_point_in_own_cell_bounds():
    rng = np.random.default_rng(7)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    for res in (0, 3, 9, 15, cells.MAX_RES):
        c = cells.cell_of(lon, lat, res)
        b = cells.cell_bounds(c)
        assert np.all(lon >= b[:, 0]) and np.all(lon < b[:, 2] + 1e-9)
        assert np.all(lat >= b[:, 1]) and np.all(lat < b[:, 3] + 1e-9)
        assert np.all(cells.cell_res(c) == res)


def test_edge_clamping():
    c = cells.cell_of([180.0, -180.0], [90.0, -90.0], 10)
    b = cells.cell_bounds(c)
    assert b[0, 2] == 180.0 and b[0, 3] == 90.0
    assert b[1, 0] == -180.0 and b[1, 1] == -90.0


def _morton(cell):
    return np.asarray(cell, dtype=np.uint64) & ((np.uint64(1) << np.uint64(58)) - np.uint64(1))


def _contains(outer, inner):
    return (
        outer[0] <= inner[0] and inner[2] <= outer[2]
        and outer[1] <= inner[1] and inner[3] <= outer[3]
    )


def test_parent_child_relationship():
    # one level down, a point's cell is one of the four quarters of its
    # parent: the id drops the two low Morton bits, the bounds nest exactly
    lon, lat = [12.34], [56.78]
    c = cells.cell_of(lon, lat, 12)[0]
    inside = cells.cell_of(lon, lat, 13)[0]
    assert _morton(inside) >> np.uint64(2) == _morton(c)
    outer, inner = cells.cell_bounds([c, inside])
    assert _contains(outer, inner)
    assert inner[2] - inner[0] == (outer[2] - outer[0]) / 2
    assert inner[3] - inner[1] == (outer[3] - outer[1]) / 2


def test_ancestor_at():
    # at any depth the coarse cell's id is a Morton prefix of the fine one's
    lon, lat = [12.34], [56.78]
    fine = cells.cell_of(lon, lat, 20)[0]
    coarse = cells.cell_of(lon, lat, 5)[0]
    assert _morton(fine) >> np.uint64(2 * (20 - 5)) == _morton(coarse)
    outer, inner = cells.cell_bounds([coarse, fine])
    assert _contains(outer, inner)


def test_covering_bbox():
    got = cells.cells_covering_bbox(-1.0, -1.0, 1.0, 1.0, 8)
    assert len(got) == len(set(got.tolist()))
    b = cells.cell_bounds(got)
    # every returned cell intersects the bbox
    assert np.all((b[:, 2] >= -1.0) & (b[:, 0] <= 1.0))
    assert np.all((b[:, 3] >= -1.0) & (b[:, 1] <= 1.0))
    # and the union covers the bbox corners
    corner = cells.cell_of([-1.0, 1.0], [-1.0, 1.0], 8)
    assert set(corner.tolist()) <= set(got.tolist())


@settings(max_examples=200, deadline=None)
@given(
    lon=st.floats(min_value=-180, max_value=180, allow_nan=False),
    lat=st.floats(min_value=-90, max_value=90, allow_nan=False),
    res=st.integers(min_value=0, max_value=cells.MAX_RES),
)
def test_cell_of_deterministic_and_in_bounds(lon, lat, res):
    c1 = cells.cell_of([lon], [lat], res)[0]
    c2 = cells.cell_of([lon], [lat], res)[0]
    assert c1 == c2  # pure function of the row — restart-stable
    # Containment is exact up to float binning at cell edges: (lon+180)
    # rounds at ~1 ulp, so a point can bin one cell over by <1e-13 deg.
    # The probe verifies candidates with exact PIP, so this is harmless.
    b = cells.cell_bounds(np.array([c1]))[0]
    assert b[0] - 1e-8 <= lon <= b[2] + 1e-8
    assert b[1] - 1e-8 <= lat <= b[3] + 1e-8
