"""Index compiler + probe kernel vs the reference-semantics oracle.

Structural ports of TimeZoneMapTest.java over the synthetic world
(FIXTURES.md T4): golden lookups, scoped==everywhere, init validation,
clip invariant, out-of-region guard, degenerate stripe region.
"""

import numpy as np
import pytest

from tzengine import geom, index, probe
from tzengine.oracle import OracleMap
from tzengine.zones import ZonePiece, synthetic_world

from probe_helpers import (
    deadline, ranks_to_tzids, ring_vertices, run_isolated,
)

WORLD = synthetic_world()
EVERYWHERE = index.compile_index(WORLD, -90, -180, 90, 180, world_version="synth1")
ORACLE = OracleMap(WORLD, -90, -180, 90, 180)


def engine_lookup(idx, lat, lon, mode="strict"):
    offsets, ranks, valid = probe.probe_ranks(
        idx, np.array([lat]), np.array([lon]), mode=mode
    )
    tzid, tzids = ranks_to_tzids(idx, offsets, ranks, valid)
    return tzid[0], tzids[0]


# --- golden fixture points (ports TimeZoneMapTest sanityCheckKnownLocations
# structure: list equality, head == single lookup, scoped == everywhere) ----

GOLDENS = [
    # (lat, lon, expected tzids area-ascending)
    (1.3, 1.3, ["Zone/SquareIsland", "Zone/Filler"]),  # main area
    (1.65, 1.25, ["Zone/SquareIsland", "Zone/Filler"]),  # island interior
    (1.8, 1.4, ["Zone/Filler"]),  # in the hole
    (4.5, 4.5, ["Zone/Small", "Zone/Big", "Zone/Filler"]),  # overlap (Xinjiang port)
    (3.5, 3.5, ["Zone/Big", "Zone/Filler"]),
    (7.5, 1.5, ["Zone/Multi", "Zone/Filler"]),  # multipolygon piece 0
    (7.5, 3.5, ["Zone/Multi", "Zone/Filler"]),  # multipolygon piece 1
    (7.5, 2.5, ["Zone/Filler"]),  # between the pieces
    (8.3, 6.3, ["Zone/Enclave", "Zone/Host", "Zone/Filler"]),  # enclave
    (8.1, 6.1, ["Zone/Host", "Zone/Filler"]),
    (9.5, 9.5, ["Zone/Filler"]),
    (0.0, 0.0, ["Zone/Filler"]),  # world corner
    (10.0, 10.0, ["Zone/Filler"]),  # world corner (inclusive)
    # exact boundary points (float32 grid)
    (float(np.float32(1.65)), 1.0, ["Zone/SquareIsland", "Zone/Filler"]),  # outer edge
    (1.0, 1.0, ["Zone/SquareIsland", "Zone/Filler"]),  # outer corner
    (float(np.float32(1.5)), float(np.float32(1.5)), ["Zone/SquareIsland", "Zone/Filler"]),  # hole corner
    (4.0, 4.0, ["Zone/Small", "Zone/Big", "Zone/Filler"]),  # Small corner
    (5.0, 5.0, ["Zone/Small", "Zone/Big", "Zone/Filler"]),  # Small corner opposite
    (3.0, 3.0, ["Zone/Big", "Zone/Filler"]),  # Big corner
    (8.0, 6.0, ["Zone/Host", "Zone/Filler"]),  # Host corner
    (float(np.float32(8.2)), float(np.float32(6.2)), ["Zone/Enclave", "Zone/Host", "Zone/Filler"]),
]


@pytest.mark.parametrize("lat,lon,expected", GOLDENS)
def test_everywhere_goldens(lat, lon, expected):
    # oracle mirrors the reference pipeline; engine must agree with both
    assert ORACLE.get_overlapping_time_zones(lat, lon) == expected
    tzid, tzids = engine_lookup(EVERYWHERE, lat, lon)
    assert tzids == expected
    assert tzid == expected[0]


@pytest.mark.parametrize("lat,lon,expected", GOLDENS)
def test_scoped_equals_everywhere(lat, lon, expected):
    # TimeZoneMapTest.java:112-123: map scoped to point±1 gives identical lists
    idx = index.compile_index(
        WORLD, lat - 1, lon - 1, lat + 1, lon + 1, world_version="synth1"
    )
    _, tzids = engine_lookup(idx, lat, lon)
    assert tzids == expected


def test_random_sweep_vs_oracle():
    rng = np.random.default_rng(42)
    lats = rng.uniform(-0.5, 10.5, 3000)
    lons = rng.uniform(-0.5, 10.5, 3000)
    offsets, ranks, valid = probe.probe_ranks(EVERYWHERE, lats, lons, mode="strict")
    _, tzids = ranks_to_tzids(EVERYWHERE, offsets, ranks, valid)
    for i in range(len(lats)):
        assert tzids[i] == ORACLE.get_overlapping_time_zones(lats[i], lons[i]), (
            lats[i],
            lons[i],
        )


def test_init_validation_permutations():
    # TimeZoneMapTest.java:214-230: min >= max raises, 4 permutations
    for args in [(5, 0, 5, 10), (6, 0, 5, 10), (0, 5, 10, 5), (0, 6, 10, 5)]:
        with pytest.raises(ValueError):
            index.compile_index(WORLD, *args, world_version="synth1")


def test_outside_guard_strict_and_pipeline():
    idx = index.compile_index(WORLD, 4, 4, 5, 5, world_version="synth1")
    # corner points accepted (inclusive), TimeZoneMapTest.java:361-373
    for lat, lon in [(4.0, 4.0), (5.0, 5.0), (4.0, 5.0), (5.0, 4.0)]:
        tzid, _ = engine_lookup(idx, lat, lon)
        assert tzid == "Zone/Small"
    # one ulp outside raises in strict mode
    up = np.nextafter(5.0, 10.0)
    with pytest.raises(ValueError, match="outside the initialized area"):
        engine_lookup(idx, up, 4.5)
    # pipeline mode: null result, no raise
    tzid, tzids = engine_lookup(idx, up, 4.5, mode="pipeline")
    assert tzid is None and tzids is None


def test_clip_invariant_extents_within_region():
    # TimeZoneMapTest.java:294-302: every scoped piece's extents ⊆ envelope
    idx = index.compile_index(WORLD, 3.5, 3.5, 8.5, 8.5, world_version="synth1")
    for rank in range(idx.n_pieces):
        lo_lon, lo_lat, hi_lon, hi_lat = geom.rings_bbox(idx.piece_rings(rank))
        assert lo_lat >= 3.5 - 1e-9 and hi_lat <= 8.5 + 1e-9
        assert lo_lon >= 3.5 - 1e-9 and hi_lon <= 8.5 + 1e-9
    # clipped Big is present and still ranked by PRE-clip area (after
    # Small, which is smaller pre-clip even though both clip to overlap)
    zids = idx.zone_ids
    assert zids.index("Zone/Small") < zids.index("Zone/Big")


def test_degenerate_stripe_region():
    # TimeZoneMapTest.java:386-403: 1e-6-degree-tall stripe still answers
    idx = index.compile_index(
        WORLD, 4.5, 0.0, 4.5 + 1e-6, 10.0, world_version="synth1"
    )
    tzid, _ = engine_lookup(idx, 4.5, 4.5)
    assert tzid == "Zone/Small"
    tzid, _ = engine_lookup(idx, 4.5, 9.0)
    assert tzid == "Zone/Filler"


def test_scoped_region_distance_to_clip_edge():
    # TimeZoneMapTest.java:332-348: clip boundary counts as zone boundary
    idx = index.compile_index(WORLD, 9.0, 9.0, 10.0, 10.0, world_version="synth1")
    d = probe.distance_from_boundary_batch(
        idx, ["Zone/Filler"], np.array([9.5]), np.array([9.9996]), mode="strict"
    )[0]
    # ~0.0004 deg of longitude at lat 9.5 ≈ 44 m (the reference's 44m case)
    assert d == pytest.approx(44.0, abs=1.0)


def test_distance_errors_and_hole():
    with pytest.raises(ValueError, match="inside the time zone"):
        probe.distance_from_boundary_batch(
            EVERYWHERE, ["Zone/SquareIsland"], np.array([1.8]), np.array([1.4])
        )
    d = probe.distance_from_boundary_batch(
        EVERYWHERE, ["Zone/SquareIsland"], np.array([1.8]), np.array([1.4]),
        mode="pipeline",
    )
    assert np.isnan(d[0])


def knn_names(idx, lats, lons, k, **kw):
    """knn_zones_batch with its rank lists mapped to zone names."""
    got = probe.knn_zones_batch(idx, np.asarray(lats), np.asarray(lons), k, **kw)
    return [[idx.zone_ids[r] for r in row] for row in got.to_pylist()]


def test_knn_ordering():
    res = knn_names(EVERYWHERE, [4.5], [4.5], k=3)[0]
    assert res == ["Zone/Small", "Zone/Big", "Zone/Filler"]
    # outside every non-filler zone: nearest should be the closest boundary
    res = knn_names(EVERYWHERE, [4.5], [6.5], k=3)[0]
    assert res[0] == "Zone/Filler"  # contains the point (distance 0)
    assert res[1] == "Zone/Big"  # 0.5 deg away beats Small at 1.5 deg


@pytest.mark.parametrize("metric", ["geodesic", "planar_deg"])
def test_knn_non_finite_points_finish_with_empty_lists(metric):
    # a NULL coordinate reaches the UDF as NaN: it used to never finish
    lats = np.array([4.5, np.nan, 4.5, np.inf, -np.inf, 4.5, np.nan])
    lons = np.array([4.5, 1.0, np.nan, 4.5, 4.5, np.inf, np.nan])
    with deadline(30):
        got = knn_names(EVERYWHERE, lats, lons, k=3, metric=metric)
        only_bad = knn_names(EVERYWHERE, lats[1:], lons[1:], k=3, metric=metric)
    assert got[0] == ["Zone/Small", "Zone/Big", "Zone/Filler"]
    assert got[1:] == [[]] * 6
    assert only_bad == [[]] * 6


def test_nearest_feet_rejects_non_finite_points():
    # a NaN pair would poison the bucket-prune bound and return a wrong
    # d2min silently
    for lon, lat in ((np.nan, 1.0), (1.0, np.inf)):
        with pytest.raises(ValueError, match="finite"):
            probe._nearest_feet_flat(
                EVERYWHERE, np.array([lon]), np.array([lat]), np.array([0])
            )


def test_every_compiled_piece_has_a_segment():
    idx = EVERYWHERE
    starts = index.segment_starts(idx.coord_offsets)
    seg_runs = np.searchsorted(starts, idx.coord_offsets[idx.ring_offsets])
    assert np.all(np.diff(seg_runs) > 0)
    dot = ZonePiece("Zone/Dot", 0, 99, [np.array([[5.0, 5.0]])])
    with pytest.raises(ValueError, match="no boundary segment"):
        index.compile_index(
            list(WORLD) + [dot], -90, -180, 90, 180, world_version="synth1"
        )


@pytest.mark.parametrize("metric", ["geodesic", "planar_deg"])
def test_q5_kernel_matches_per_piece_oracle_with_holes(metric):
    """Every zone against every point of a grid over the synthetic world
    — holes, enclaves, the two-piece Zone/Multi, boundary and corner
    points — bit-for-bit against the per-piece oracle, by name and by
    the integer zone codes the engine ships."""
    g = np.array([0.0, 1.0, 1.4, 1.8, 2.5, 4.5, 6.5, 9.0, 10.0])
    lat_g, lon_g = np.meshgrid(g, g)
    zone_names = list(dict.fromkeys(EVERYWHERE.zone_ids)) + ["Zone/Nowhere", None]
    zones = [z for z in zone_names for _ in range(lat_g.size)]
    lats = np.tile(lat_g.ravel(), len(zone_names))
    lons = np.tile(lon_g.ravel(), len(zone_names))
    want = np.array([
        ORACLE.get_distance_from_boundary(z, la, lo, metric)
        for z, la, lo in zip(zones, lats, lons)
    ])
    got = probe.distance_from_boundary_batch(
        EVERYWHERE, zones, lats, lons, mode="pipeline", metric=metric
    )
    assert np.array_equal(got, want, equal_nan=True)
    assert np.isnan(want).any() and (want == 0).any() and (want > 0).any()
    codes = probe.zone_ranks(EVERYWHERE, zones)
    assert codes[-1] == probe.NO_ZONE
    assert codes[-lat_g.size - 1] == probe.UNKNOWN_ZONE
    by_code = probe.distance_from_boundary_batch(
        EVERYWHERE, codes.astype(np.int16), lats, lons, mode="pipeline",
        metric=metric,
    )
    assert np.array_equal(by_code, want, equal_nan=True)
    # strict: any named-zone miss raises (an unknown zone too); hits
    # and NULL zones do not
    with pytest.raises(ValueError, match="inside the time zone"):
        probe.distance_from_boundary_batch(
            EVERYWHERE, zones, lats, lons, mode="strict", metric=metric
        )
    keep = ~np.isnan(want) | (codes == probe.NO_ZONE)
    strict = probe.distance_from_boundary_batch(
        EVERYWHERE, codes[keep], lats[keep], lons[keep], mode="strict",
        metric=metric,
    )
    assert np.array_equal(strict, want[keep], equal_nan=True)


def test_version_gate():
    # reference I3 / TimeZoneMapTest.java:153-177
    with pytest.raises(ValueError, match="Incompatible map archive"):
        index.check_index_version("999:synth1")
    index.check_index_version(EVERYWHERE.version)  # current version accepted


def test_cover_piece_propagated_pairs_match_recompute():
    """The BFS-propagated boundary incidences (cover_piece's third
    result) must equal the dense oracle matrix over the emitted boundary
    cells — same pairs, same row-major order."""
    from tzengine import cells as cellmod
    from tzengine import oracle

    for zone in ("Zone/Filler", "Zone/Island"):
        if zone not in EVERYWHERE.zone_ids:
            continue
        rings = EVERYWHERE.piece_rings(EVERYWHERE.zone_ids.index(zone))
        cids, interior, (brow, bcol) = index.cover_piece(rings, depth=4)
        bsel = np.nonzero(~interior)[0]
        sa, sb = geom._segments(rings)
        rows, cols = np.nonzero(
            oracle.segments_box_matrix(sa, sb, cellmod.cell_bounds(cids[bsel]))
        )
        assert len(rows)
        np.testing.assert_array_equal(brow, rows)
        np.testing.assert_array_equal(bcol, cols)


def test_cover_piece_interior_and_boundary():
    rings = EVERYWHERE.piece_rings(EVERYWHERE.zone_ids.index("Zone/Filler"))
    cids, interior, (brow, _bcol) = index.cover_piece(rings, depth=4)
    assert interior.any() and (~interior).any()
    # every boundary cell carries at least one incidence
    assert np.array_equal(
        np.unique(brow), np.arange(np.count_nonzero(~interior))
    )
    # interior cells resolve without PIP: their centers are inside
    from tzengine import cells as cellmod

    b = cellmod.cell_bounds(cids[interior])
    centers = np.stack([(b[:, 0] + b[:, 2]) / 2, (b[:, 1] + b[:, 3]) / 2], axis=1)
    assert geom.contains_inclusive(centers, rings).all()


# --- I12 connected-component split (TimeZoneMap.kt:220-235 flatMap) --------


def _cw(ring):
    r = np.asarray(ring, dtype=float)
    return r[::-1].copy() if geom.ring_signed_area(r) > 0 else r


def test_clip_split_u_shape_two_entries():
    # U-shaped zone whose bridge is cut off by the region: the reference
    # flatMap yields one TimeZone entry per connected component
    from tzengine.zones import ZonePiece

    U = _cw([[0, 0], [0, 4], [4, 4], [4, 0], [3, 0], [3, 3], [1, 3], [1, 0]])
    piece = ZonePiece("Zone/U", 0, 0, [U])
    idx = index.compile_index([piece], -1, -1, 2, 5, world_version="t")
    assert idx.n_pieces == 2
    assert idx.zone_ids == ["Zone/U", "Zone/U"]
    for rank in range(2):
        lo_lon, lo_lat, hi_lon, hi_lat = geom.rings_bbox(idx.piece_rings(rank))
        assert lo_lat >= -1 - 1e-9 and hi_lat <= 2 + 1e-9
    # oracle (pure-Python reference semantics) splits identically
    oracle = OracleMap([piece], -1, -1, 2, 5)
    assert len(oracle.entries) == 2
    # both legs still answer; the gap between them does not
    assert engine_lookup(idx, 1.0, 0.5)[0] == "Zone/U"
    assert engine_lookup(idx, 1.0, 3.5)[0] == "Zone/U"
    assert engine_lookup(idx, 1.0, 2.0)[0] is None


def test_clip_split_comb_three_entries_and_rank_ties():
    from tzengine.zones import ZonePiece

    comb = _cw(
        [[0, 0], [0, 5], [1, 5], [1, 1], [2, 1], [2, 5], [3, 5], [3, 1],
         [4, 1], [4, 5], [5, 5], [5, 0]]
    )
    small = _cw([[0.2, 2.2], [0.2, 2.8], [0.8, 2.8], [0.8, 2.2]])
    pieces = [
        ZonePiece("Zone/Comb", 0, 0, [comb]),
        ZonePiece("Zone/SmallOverlay", 0, 1, [small]),
    ]
    idx = index.compile_index(pieces, 2, -1, 9, 6, world_version="t")
    # three comb teeth + the small overlay = 4 entries; overlay ranks
    # first (smaller PRE-clip area), teeth stay consecutive
    assert idx.n_pieces == 4
    assert idx.zone_ids == [
        "Zone/SmallOverlay", "Zone/Comb", "Zone/Comb", "Zone/Comb",
    ]
    oracle = OracleMap(pieces, 2, -1, 9, 6)
    assert [z for z, _ in oracle.entries] == idx.zone_ids
    # overlap ordering: overlay wins inside its rectangle
    assert engine_lookup(idx, 2.5, 0.5) == ("Zone/SmallOverlay",
                                            ["Zone/SmallOverlay", "Zone/Comb"])


def test_clip_split_hole_cut_open_merges_into_boundary():
    from tzengine.zones import ZonePiece

    outer = _cw([[0, 0], [0, 6], [6, 6], [6, 0]])
    hole = np.asarray([[2, 2], [4, 2], [4, 4], [2, 4]], dtype=float)
    if geom.ring_signed_area(hole) < 0:
        hole = hole[::-1].copy()
    piece = ZonePiece("Zone/Donut", 0, 0, [outer, hole])
    # clip at lon<=3 cuts through the hole: one component whose boundary
    # includes the opened hole notch
    idx = index.compile_index([piece], -1, -1, 7, 3, world_version="t")
    assert idx.n_pieces == 1
    assert engine_lookup(idx, 1.0, 1.0)[0] == "Zone/Donut"
    assert engine_lookup(idx, 3.0, 2.5)[0] is None  # inside the old hole
    oracle = OracleMap([piece], -1, -1, 7, 3)
    assert len(oracle.entries) == 1


def test_scoped_world_entry_count_matches_oracle():
    # testKnownZones analogue (TimeZoneMapTest.java:281-303): entry count
    # and ids of a scoped build match the reference-semantics oracle
    for region in [(3.5, 3.5, 8.5, 8.5), (0.5, 0.5, 9.5, 9.5), (4, 4, 5, 5)]:
        idx = index.compile_index(WORLD, *region, world_version="synth1")
        oracle = OracleMap(WORLD, *region)
        assert idx.zone_ids == [z for z, _ in oracle.entries], region


def test_searchsorted_fallback_level_correctness():
    """Levels whose dense-grid footprint exceeds the cap (antipodal tiny
    zones -> world-wide footprint at the boundary resolution) take the
    searchsorted + range-prefilter path; containment must be identical
    to the oracle there, for hits, misses, and boundary points."""
    import numpy as np
    from tzengine import index as indexmod, probe
    from tzengine.oracle import OracleMap
    from tzengine.zones import make_piece, _rect

    pieces = [
        make_piece("Zone/West", 0, 0, [_rect(10.0, -170.5, 10.25, -170.25)]),
        make_piece("Zone/East", 0, 1, [_rect(10.0, 170.25, 10.25, 170.5)]),
    ]
    idx = indexmod.compile_index(pieces, -90, -180, 90, 180, world_version="x")
    # the test is non-vacuous only if some level fell back to searchsorted
    assert any(r not in idx.level_dense for r in idx.levels), (
        sorted(idx.levels), sorted(idx.level_dense))

    oracle = OracleMap(pieces, -90, -180, 90, 180)
    rng = np.random.default_rng(3)
    lats = np.concatenate([
        rng.uniform(9.9, 10.35, 200),            # near both zones' lat band
        rng.uniform(-80, 80, 200),               # world-wide misses
        np.array([10.0, 10.25, 10.125]),         # boundary lat values
    ])
    lons = np.concatenate([
        rng.choice([-1, 1], 200) * rng.uniform(170.2, 170.55, 200),
        rng.uniform(-180, 180, 200),
        np.array([-170.5, 170.5, 170.375]),      # boundary/interior lons
    ])
    offs, ranks, valid = probe.probe_ranks(idx, lats, lons, mode="strict")
    _, tzids = ranks_to_tzids(idx, offs, ranks, valid)
    for i in range(len(lats)):
        exp = oracle.get_overlapping_time_zones(lats[i], lons[i])
        assert (tzids[i] or []) == exp, (lats[i], lons[i], tzids[i], exp)


def test_merged_levels_probe_parity_with_unmerged():
    """Round-6 merge_levels (quadtree rasterization of coarse covering
    levels onto finer lookup tables) must be invisible to the probe:
    offsets/ranks/valid identical to an index compiled with merging
    disabled, on random points AND exact vertex coordinates (the
    boundary pass is where the per-entry parity anchor ent_cx/ent_cy
    must reproduce the original cell center bit-for-bit)."""
    from tzengine.bigworld import big_world

    world = big_world()
    merged = index.compile_index(world, -90, -180, 90, 180, "big1")
    orig = index.merge_levels
    index.merge_levels = lambda levels, n: levels
    try:
        unmerged = index.compile_index(world, -90, -180, 90, 180, "big1")
    finally:
        index.merge_levels = orig
    assert len(merged.levels) < len(unmerged.levels)  # non-vacuous

    rng = np.random.default_rng(17)
    verts = ring_vertices(merged)
    lats = np.concatenate([rng.uniform(-63, 63, 20000), verts[:2000, 1]])
    lons = np.concatenate([rng.uniform(-63, 63, 20000), verts[:2000, 0]])
    oa, ra, va = probe.probe_ranks(merged, lats, lons, mode="pipeline")
    ob, rb, vb = probe.probe_ranks(unmerged, lats, lons, mode="pipeline")
    assert np.array_equal(oa, ob)
    assert np.array_equal(ra, rb)
    assert np.array_equal(va, vb)


def test_merged_levels_entry_lists_rank_ascending():
    """Within every merged lookup cell the entry list must stay
    rank-ascending (the probe relies on entry id order == rank order
    after expansion; merging concatenates pushed-down and native pairs
    and must re-establish it)."""
    from tzengine.bigworld import big_world

    idx = index.compile_index(big_world(), -90, -180, 90, 180, "big1")
    for res, (uniq, offsets, ent) in idx.levels.items():
        ranks = idx.ent_rank[ent]
        for i in range(len(uniq)):
            seg = ranks[offsets[i]:offsets[i + 1]]
            assert np.all(np.diff(seg) > 0), (res, i)


def test_merge_levels_rejects_resolution_above_max():
    """A level finer than cells.MAX_RES would overflow the push-down
    shift into the resolution bits: merge_levels must refuse it, alone
    or below a coarser level, and still accept MAX_RES itself."""
    from tzengine import cells as cellmod

    def level(res):
        uniq = np.array([(res << 58) | 5], dtype=np.uint64)
        return uniq, np.array([0, 1], dtype=np.int64), np.array([0], np.int32)

    top = cellmod.MAX_RES
    for levels in (
        {top + 1: level(top + 1)},
        {top - 1: level(top - 1), top + 1: level(top + 1)},
    ):
        with pytest.raises(ValueError, match="resolution"):
            index.merge_levels(levels, 2)
    merged = index.merge_levels({top - 1: level(top - 1), top: level(top)}, 2)
    assert list(merged) == [top]
    assert len(merged[top][0]) == 5  # 4 pushed-down children + the native cell


def test_nearest_feet_bucket_prune_parity():
    """The foot search skips segment buckets that are provably farther
    than the minimum, so (fx, fy, d2min) must be bitwise those of the
    full per-piece scan, oracle.nearest_boundary_point, with the
    first-minimum tie-break: on big454 (about 90 segments a piece),
    including d2 = 0 ties from 2000 points sitting exactly on piece
    vertices, and on the synth world, whose pieces have 4 to 12 segments
    (one bucket each)."""
    from tzengine import oracle
    from tzengine.bigworld import big_world

    rng = np.random.default_rng(9)
    for pieces, lo, hi in ((big_world(), -60, 60), (synthetic_world(), -1, 11)):
        idx = index.compile_index(pieces, -90, -180, 90, 180, "big1")
        n = 20000
        plon = rng.uniform(lo, hi, n)
        plat = rng.uniform(lo, hi, n)
        prank = rng.integers(0, idx.n_pieces, n).astype(np.int64)
        vsel = rng.integers(0, idx.n_pieces, 2000)
        vv = np.array([idx.piece_rings(int(r))[0][0] for r in vsel])
        plon = np.concatenate([plon, vv[:, 0]])
        plat = np.concatenate([plat, vv[:, 1]])
        prank = np.concatenate([prank, vsel]).astype(np.int64)

        fx, fy, d2 = probe._nearest_feet_flat(idx, plon, plat, prank)
        for r in np.unique(prank):
            sel = prank == r
            foot = oracle.nearest_boundary_point(
                np.c_[plon[sel], plat[sel]], idx.piece_rings(int(r))
            )
            assert np.array_equal(fx[sel], foot[:, 0])
            assert np.array_equal(fy[sel], foot[:, 1])
            ref_d2 = (plon[sel] - foot[:, 0]) ** 2 + (plat[sel] - foot[:, 1]) ** 2
            assert np.array_equal(d2[sel], ref_d2)


def test_arrow_f64_offset_nulls_and_empty():
    import pyarrow as pa

    arr = pa.array([1.0, None, 3.0, 4.0, None, 6.0, 7.0, 8.0, 9.0, None])
    got = probe.arrow_f64(arr.slice(3, 6))  # offset 3 crosses a bitmap byte
    assert np.array_equal(
        got, [4.0, np.nan, 6.0, 7.0, 8.0, 9.0], equal_nan=True
    )
    assert np.array_equal(
        probe.arrow_f64(arr), [1, np.nan, 3, 4, np.nan, 6, 7, 8, 9, np.nan],
        equal_nan=True,
    )
    no_nulls = pa.array([2.5, 3.5, 4.5]).slice(1)
    assert np.array_equal(probe.arrow_f64(no_nulls), [3.5, 4.5])
    assert probe.arrow_f64(pa.array([], pa.float64())).shape == (0,)
    assert probe.arrow_f64(arr.slice(10)).shape == (0,)
    assert np.array_equal(probe.arrow_f64(pa.array([1, None, 3], pa.int32())),
                          [1.0, np.nan, 3.0], equal_nan=True)


def test_udf_kernels_do_not_import_pandas():
    """The engine's UDF bodies (Arrow in, kernels, Arrow out) run in
    every Python worker; importing pandas there costs ~40 MB each."""
    code = """
import sys
import numpy as np
import pyarrow as pa
from tzengine import index, probe
from tzengine.zones import synthetic_world

idx = index.compile_index(synthetic_world(), -90, -180, 90, 180, "synth1")
vals = np.array([9.0, 1.8, 4.5, 4.5, 9.5, 0.0, 200.0, 4.5])
valid = np.packbits(np.array([1, 1, 1, 0, 1, 1, 1, 1], bool), bitorder="little")
arr = pa.Array.from_buffers(
    pa.float64(), 8, [pa.py_buffer(valid), pa.py_buffer(vals)]
).slice(1)
lats = probe.arrow_f64(arr)
lons = probe.arrow_f64(arr.slice(0))
assert np.isnan(lats[2]) and lats[0] == 1.8
for with_all in (False, True):
    probe.probe_arrow(idx, lats, lons, mode="pipeline", with_all=with_all)
off, heads, dist = probe.containing_distances(idx, lats, lons, "geodesic")
pa.StructArray.from_arrays(
    [probe.arrow_list(off, heads.astype(np.int16)), probe.arrow_list(off, dist)],
    names=["h", "d"],
)
probe.knn_zones_batch(idx, lats, lons, 3)
assert "pandas" not in sys.modules, "pandas was imported"
"""
    run_isolated(code)


# A fresh interpreter's prelude: synth pieces 1-3 as a sliced zones
# Arrow batch (zone_id, polygon_id, rings), built from buffers, plus
# their ``ordinal`` column.
ZONES_BATCH = """
import sys
import numpy as np
import pyarrow as pa
from tzengine import probe
from tzengine.zones import synthetic_world

pieces = synthetic_world()[:5]
rings = [r for p in pieces for r in p.rings]
verts = np.concatenate(rings)
vstruct = pa.StructArray.from_arrays(
    [probe.arrow_array(verts[:, 1].astype(np.float32)),
     probe.arrow_array(verts[:, 0].astype(np.float32))],
    ["lat", "lon"],
)
v_off = np.cumsum([0] + [len(r) for r in rings]).astype(np.int32)
r_off = np.cumsum([0] + [len(p.rings) for p in pieces]).astype(np.int32)
rings_col = pa.ListArray.from_arrays(
    probe.arrow_array(r_off),
    pa.ListArray.from_arrays(probe.arrow_array(v_off), vstruct),
)
names = [p.zone_id.encode() for p in pieces]
n_off = np.cumsum([0] + [len(b) for b in names]).astype(np.int32)
zone_id = pa.Array.from_buffers(
    pa.string(), len(pieces),
    [None, pa.py_buffer(n_off), pa.py_buffer(b"".join(names))],
)
poly = probe.arrow_array(np.array([p.polygon_id for p in pieces], np.int32))
batch = pa.RecordBatch.from_arrays(
    [zone_id, poly, rings_col], ["zone_id", "polygon_id", "rings"]
).slice(1, 3)
ordinal = probe.arrow_array(np.array([p.ordinal for p in pieces[1:4]], np.int32))
"""


def test_raster_worker_does_not_import_pandas():
    """``tiling.raster_batch`` (the rasterize_zones mapInArrow body) reads
    a sliced zones batch through its Arrow buffers and emits the same
    cells as ``raster_mask_for_rings``, without importing pandas."""
    code = ZONES_BATCH + """
from tzengine import tiling

out = tiling.raster_batch(batch, 7)
assert "pandas" not in sys.modules, "pandas was imported"

want = []
for p in pieces[1:4]:
    ids, kinds = tiling.raster_mask_for_rings(p.rings, 7)
    want += [(p.zone_id, p.polygon_id, int(c), int(k)) for c, k in zip(ids, kinds)]
got = list(zip(*(out.column(c).to_pylist()
                 for c in ("zone_id", "polygon_id", "cell_id", "full"))))
assert got == want, (len(got), len(want))
"""
    run_isolated(code)


def test_compile_worker_does_not_import_pandas():
    """``engine.compile_batch`` (the executor compile's mapInArrow body)
    reads a sliced zones batch through its Arrow buffers and emits each
    piece's ``compile_source`` components and area, with and without an
    area column, without importing pandas."""
    code = ZONES_BATCH + """
import pickle
from tzengine import geom, index
from tzengine.engine import compile_batch

areas = probe.arrow_array(np.array([7.0, 8.0, 9.0, 10.0, 11.0]))
batch = pa.RecordBatch.from_arrays(
    [*batch.columns, ordinal, areas[1:4]],
    [*batch.schema.names, "ordinal", "area"],
)
region = (-90.0, -180.0, 5.0, 180.0)  # clips two pieces, drops one
outs = [compile_batch(batch, region, 5), compile_batch(batch, region, 5, "area")]
assert "pandas" not in sys.modules, "pandas was imported"

# the batch carries float32 vertices
rings32 = [[r.astype(np.float32).astype(np.float64) for r in p.rings]
           for p in pieces[1:4]]
for out, pre_areas in zip(outs, [[geom.polygon_area2d(r) for r in rings32],
                                 [8.0, 9.0, 10.0]]):
    assert out.column("ordinal").to_pylist() == [p.ordinal for p in pieces[1:4]]
    assert out.column("zone_id").to_pylist() == [p.zone_id for p in pieces[1:4]]
    assert out.column("polygon_id").to_pylist() == [p.polygon_id for p in pieces[1:4]]
    assert out.column("pre_area").to_pylist() == pre_areas
    for rings, blobs in zip(rings32, out.column("blobs").to_pylist()):
        want = index.compile_source(rings, *region, 5)
        got = [pickle.loads(b) for b in blobs]
        assert len(got) == len(want)
        for g, w in zip(got, want):
            assert g.keys() == w.keys()
            for k in w:
                assert np.array_equal(g[k], w[k]), k
assert sum(len(b) for b in outs[0].column("blobs").to_pylist()) > 0
"""
    run_isolated(code)
