"""Raster ↔ vector tiling round-trip consistency (north_star)."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from tzengine import cells, geom, index, oracle, tiling
from tzengine.zones import synthetic_world

RES = 8


@pytest.fixture(scope="module")
def raster(spark):
    return tiling.rasterize_zones(spark, synthetic_world(), res=RES).cache()


def test_raster_mask_correctness(raster):
    world = {(p.zone_id, p.polygon_id): p.rings for p in synthetic_world()}
    rows = raster.collect()
    assert rows
    for r in rows[:500]:
        rings = world[(r.zone_id, r.polygon_id)]
        b = cells.cell_bounds(np.uint64(r.cell_id))[0]
        center = np.array([[(b[0] + b[2]) / 2, (b[1] + b[3]) / 2]])
        if r.kind == "full":
            assert geom.contains_inclusive(center, rings)[0], r
            seg_a, seg_b = geom._segments(rings)
            assert not oracle.segments_box_matrix(seg_a, seg_b, b[None]).any(), r


def test_full_cells_match_pure_numpy(raster):
    # distributed raster == driver-side numpy raster, piece by piece
    for p in synthetic_world()[:3]:
        ids, kinds = tiling.raster_mask_for_rings(p.rings, RES)
        want_full = {int(c) for c, k in zip(ids, kinds) if k == 1}
        got_full = {
            r.cell_id
            for r in raster.filter(
                (F.col("zone_id") == p.zone_id)
                & (F.col("polygon_id") == p.polygon_id)
                & (F.col("kind") == "full")
            ).collect()
        }
        assert got_full == want_full


def test_vectorize_then_expand_roundtrip(spark, raster):
    vector = tiling.vectorize_coverage(raster)
    # vector must be strictly smaller (quads merged) for the big zones
    n_full_raster = raster.filter("kind = 'full'").count()
    n_full_vector = vector.filter("kind = 'full'").count()
    assert 0 < n_full_vector < n_full_raster
    # expanding the vector back to RES reproduces the raster exactly
    back = tiling.expand_to_res(vector.filter("kind = 'full'"), RES)
    got = {
        (r.zone_id, r.polygon_id, r.cell_id) for r in back.collect()
    }
    want = {
        (r.zone_id, r.polygon_id, r.cell_id)
        for r in raster.filter("kind = 'full'").collect()
    }
    assert got == want


def test_roundtrip_consistent_with_covering_index(raster):
    # interior cells of the compiled covering index, expanded to RES,
    # are a subset of the raster's full mask (both say "uniformly inside")
    idx = index.compile_index(
        synthetic_world(), -90, -180, 90, 180, world_version="synth1"
    )
    filler = idx.zone_ids.index("Zone/Filler")
    raster_full = {
        r.cell_id
        for r in raster.filter(
            (F.col("zone_id") == "Zone/Filler") & (F.col("kind") == "full")
        ).collect()
    }
    for res_level, (uniq, offsets, ent_ids) in idx.levels.items():
        if res_level > RES:
            continue
        for i, c in enumerate(uniq):
            for e_pos in range(offsets[i], offsets[i + 1]):
                e = ent_ids[e_pos]
                if idx.ent_rank[e] == filler and idx.ent_interior[e]:
                    b = cells.cell_bounds(np.uint64(c))[0]
                    # every RES-descendant of an interior cell is full
                    sub = cells.cells_covering_bbox(
                        b[0] + 1e-9, b[1] + 1e-9, b[2] - 1e-9, b[3] - 1e-9, RES
                    )
                    assert set(sub.astype(np.int64).tolist()) <= raster_full


def _raster_reference(rings, res):
    """Per-cell raster: every cell ``cells_covering_bbox`` proposes at
    ``res`` is partial when any segment touches its closed rectangle,
    else full when its center is inside."""
    lo_lon, lo_lat, hi_lon, hi_lat = geom.rings_bbox(rings)
    cand = cells.cells_covering_bbox(lo_lon, lo_lat, hi_lon, hi_lat, res)
    seg_a, seg_b = geom._segments(rings)
    b = cells.cell_bounds(cand)
    centers = np.stack([(b[:, 0] + b[:, 2]) / 2, (b[:, 1] + b[:, 3]) / 2], axis=1)
    center_in = geom.contains_inclusive(centers, rings)
    keep_ids, kinds = [], []
    for i, c in enumerate(cand):
        box = np.broadcast_to(b[i], (len(seg_a), 4))
        if geom.segments_box_touch(seg_a, seg_b, box).any():
            keep_ids.append(int(c))
            kinds.append(0)
        elif center_in[i]:
            keep_ids.append(int(c))
            kinds.append(1)
    return np.array(keep_ids, dtype=np.int64), np.array(kinds, dtype=np.int8)


def _assert_raster_matches_reference(rings, res, msg):
    ids, kinds = tiling.raster_mask_for_rings(rings, res)
    want_ids, want_kinds = _raster_reference(rings, res)
    o, w = np.argsort(ids), np.argsort(want_ids)
    np.testing.assert_array_equal(ids[o], want_ids[w], err_msg=msg)
    np.testing.assert_array_equal(kinds[o], want_kinds[w], err_msg=msg)


@pytest.mark.parametrize("res", [6, 7, 8, 9])
def test_raster_matches_per_cell_reference_synth(res):
    for p in synthetic_world():
        _assert_raster_matches_reference(p.rings, res, p.zone_id)


def test_raster_matches_per_cell_reference_big454_and_stars():
    from test_property import star_piece

    from tzengine import bigworld

    big = bigworld.big_world()
    rng = np.random.default_rng(8)
    for i in rng.choice(len(big), 30, replace=False):
        _assert_raster_matches_reference(big[i].rings, 8, f"big454 {i}")
    for seed in range(12):
        p = star_piece(seed, "Z", 0, 0.5 * seed, -0.3 * seed, 1.0 + seed / 4,
                       4 + 3 * seed)
        for res in (7, 9):
            _assert_raster_matches_reference(p.rings, res, f"star {seed}")


@pytest.mark.parametrize("lo_lon,lo_lat", [
    (0.703125, 1.1),  # left edge on a res-9 grid line
    (1.1, 5 * 180 / 512),  # bottom edge on a res-9 grid line
    (0.703125, 5 * 180 / 512),  # both
])
def test_raster_grid_aligned_low_edges(lo_lon, lo_lat):
    # a cell left of (below) a grid-aligned low bbox edge touches the
    # edge, but cells_covering_bbox never proposes it: not in the raster
    ring = np.array([[lo_lon, lo_lat], [lo_lon, 4.4], [3.3, 4.4], [3.3, lo_lat]])
    _assert_raster_matches_reference([ring], 9, f"{lo_lon}, {lo_lat}")
