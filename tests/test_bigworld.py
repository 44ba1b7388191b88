"""Reference-scale world: >150 zone pieces with real vertex counts.

Evidence that the engine holds at the reference's world scale (>400
zones, TimeZoneMapTest.java:283 — full scale exercised in bench/BASELINE;
a reduced grid keeps CI fast while covering the same code paths)."""

import numpy as np
import pytest

from tzengine import index, probe
from tzengine.bigworld import big_world
from tzengine.oracle import OracleMap

from probe_helpers import dense_knn_names, ranks_to_tzids, ring_vertices


def zone_names(idx, rank_lists):
    """knn_zones_batch's list<rank> array as per-row zone-name lists."""
    return [[idx.zone_ids[r] for r in row] for row in rank_lists.to_pylist()]


@pytest.fixture(scope="module")
def world():
    return big_world(grid=13, verts=64)


@pytest.fixture(scope="module")
def idx(world):
    return index.compile_index(world, -90, -180, 90, 180, world_version="big1")


def test_scale_shape(world, idx):
    assert len(world) > 150
    # broadcast stays small (SURVEY §4: O(few MB) at world scale)
    assert idx.nbytes() < 16 * 1024 * 1024
    # the probe pays ~9 array passes per lookup level, so merge_levels
    # must collapse this world's 8 native covering resolutions into
    # very few lookup levels (round 6); interior and boundary cells
    # both exist
    assert 1 <= len(idx.levels) <= 3
    assert idx.ent_interior.any() and (~idx.ent_interior).any()


def test_oracle_agreement_at_scale(world, idx):
    oracle = OracleMap(world, -90, -180, 90, 180)
    rng = np.random.default_rng(7)
    lats = rng.uniform(-63, 63, 1500)
    lons = rng.uniform(-63, 63, 1500)
    offs, ranks, valid = probe.probe_ranks(idx, lats, lons, mode="strict")
    _, tzids = ranks_to_tzids(idx, offs, ranks, valid)
    mism = sum(
        1
        for i in range(len(lats))
        if tzids[i] != oracle.get_overlapping_time_zones(lats[i], lons[i])
    )
    assert mism == 0
    # overlapping tiles exist: some points match >2 zones (zone+ocean)
    assert any(len(t) > 2 for t in tzids)


def test_full_coverage_and_ocean_last(idx, world):
    rng = np.random.default_rng(8)
    lats = rng.uniform(-63, 63, 500)
    lons = rng.uniform(-63, 63, 500)
    offs, ranks, valid = probe.probe_ranks(idx, lats, lons, mode="strict")
    _, tzids = ranks_to_tzids(idx, offs, ranks, valid)
    for t in tzids:
        assert t, "ocean filler guarantees full coverage"
        assert t[-1] == "Zone/Ocean", "largest area always sorts last"


def test_distributed_compile_parity_at_scale(spark, world):
    from tzengine.engine import TzEngine
    from tzengine.zones import pieces_to_df

    local = TzEngine.for_everywhere(spark, world, world_version="big1")
    dist = TzEngine.for_everywhere(
        spark, pieces_to_df(spark, world), world_version="big1"
    )
    rng = np.random.default_rng(9)
    pts = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(
            rng.uniform(-63, 63, 400), rng.uniform(-63, 63, 400))],
        "lat double, lon double",
    )
    a = local.assign_timezones(pts).orderBy("lat", "lon").collect()
    b = dist.assign_timezones(pts).orderBy("lat", "lon").collect()
    assert a == b


def test_knn_pruned_matches_dense_and_is_sublinear(idx):
    # pruned kNN must equal the dense n_points x n_pieces sweep exactly,
    # while touching far fewer pieces (VERDICT r1 #6 scale fix)
    rng = np.random.default_rng(7)
    lats = rng.uniform(-60, 60, 64)
    lons = rng.uniform(-60, 60, 64)
    got, n_eval = probe.knn_zones_batch(idx, lats, lons, k=3, return_stats=True)
    assert zone_names(idx, got) == dense_knn_names(idx, lats, lons, 3)
    dense_evals = len(lats) * idx.n_pieces
    assert n_eval < dense_evals / 10, (n_eval, dense_evals)


def test_knn_pairs_come_in_bounded_chunks(idx, monkeypatch):
    """The kNN kernel never builds a (points x pieces) matrix. An in-grid
    point reads only its cell's compile-time list: no per-point list is
    cut, and its exact pass stays far below points x pieces. A point
    with its own list (k above KNN_MAX_K, or outside the grid) gets it
    from every piece in chunks of KNN_PAIR_CHUNK (point, piece) pairs,
    and every exact pass is chunked the same way. Both equal the dense
    sweep."""
    chunk = 3 * idx.n_pieces  # a small budget, so chunking happens
    monkeypatch.setattr(probe, "KNN_PAIR_CHUNK", chunk)
    cut_pairs, foot_pairs = [], []
    real_refine, real_foot = probe._refine_lists, probe._foot_distances

    def spy_refine(idx_, k, cx, cy, r, parent, off, *rest, **kw):
        cut_pairs.append(int(np.diff(off)[parent].sum()))
        return real_refine(idx_, k, cx, cy, r, parent, off, *rest, **kw)

    def spy_foot(idx_, lats_, lons_, ranks, *rest, **kw):
        foot_pairs.append(len(ranks))
        return real_foot(idx_, lats_, lons_, ranks, *rest, **kw)

    monkeypatch.setattr(probe, "_refine_lists", spy_refine)
    monkeypatch.setattr(probe, "_foot_distances", spy_foot)
    rng = np.random.default_rng(11)
    lats = rng.uniform(-60, 60, 48)
    lons = rng.uniform(-60, 60, 48)
    got = probe.knn_zones_batch(idx, lats, lons, k=3)
    assert zone_names(idx, got) == dense_knn_names(idx, lats, lons, 3)
    assert not cut_pairs  # in-grid points read the compile-time lists
    assert all(n <= chunk for n in foot_pairs), foot_pairs
    assert sum(foot_pairs) < len(lats) * idx.n_pieces / 10, foot_pairs

    # k = 5 gives every point its own list; at k = 3, so does a point
    # outside the grid (the world's pieces span about [-63, 63]^2)
    lats = np.r_[lats[:12], 75.0, -89.0, 90.0, 10.0]
    lons = np.r_[lons[:12], 100.0, -179.0, 180.0, 170.0]
    for k, pts in ((5, slice(None)), (3, slice(12, None))):
        cut_pairs.clear()
        foot_pairs.clear()
        got = probe.knn_zones_batch(idx, lats[pts], lons[pts], k=k)
        assert zone_names(idx, got) == dense_knn_names(
            idx, lats[pts], lons[pts], k)
        n = len(lats[pts])
        assert sum(cut_pairs) == n * idx.n_pieces, cut_pairs
        assert len(cut_pairs) > 1 and all(p <= chunk for p in cut_pairs)
        assert all(p <= chunk for p in foot_pairs), foot_pairs


def test_distributed_compile_index_arrays_identical(spark, world):
    # stronger than assignment parity: the executor compile of a zones
    # DataFrame must produce bit-identical index arrays (same kernels,
    # same assembly)
    from tzengine.engine import TzEngine
    from tzengine.zones import pieces_to_df

    local = TzEngine.for_region(spark, world, -50, -50, 50, 50,
                                world_version="big1")
    dist = TzEngine.for_region(spark, pieces_to_df(spark, world),
                               -50, -50, 50, 50,
                               world_version="big1")
    a, b = local.idx, dist.idx
    assert a.zone_ids == b.zone_ids
    for field in ["polygon_ids", "areas", "piece_bbox", "ring_offsets",
                  "coord_offsets", "coords", "ent_rank", "ent_interior",
                  "ent_center", "ent_seg_off", "ent_seg_idx", "knn_grid",
                  "knn_off", "knn_rank", "knn_bound"]:
        np.testing.assert_array_equal(getattr(a, field), getattr(b, field),
                                      err_msg=field)
    assert sorted(a.levels) == sorted(b.levels)
    for lvl in a.levels:
        for x, y in zip(a.levels[lvl], b.levels[lvl]):
            np.testing.assert_array_equal(x, y)

    # the compile fans out over defaultParallelism partitions: a
    # different partition count must not change a single output byte
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(type(spark.sparkContext), "defaultParallelism",
                   property(lambda self: 7))
        dist2 = TzEngine.for_region(spark, pieces_to_df(spark, world),
                                    -50, -50, 50, 50, world_version="big1")
    c = dist2.idx
    assert a.zone_ids == c.zone_ids
    np.testing.assert_array_equal(a.coords, c.coords)
    np.testing.assert_array_equal(a.ent_rank, c.ent_rank)
    np.testing.assert_array_equal(a.ent_seg_idx, c.ent_seg_idx)


def _assert_same(x, y, where):
    assert type(x) is type(y), where
    if isinstance(x, np.ndarray):
        assert x.dtype == y.dtype, where
        np.testing.assert_array_equal(x, y, err_msg=where)
    elif isinstance(x, dict):
        assert sorted(x) == sorted(y), where
        for k in x:
            _assert_same(x[k], y[k], f"{where}[{k}]")
    elif isinstance(x, (list, tuple)):
        assert len(x) == len(y), where
        for i, (u, v) in enumerate(zip(x, y)):
            _assert_same(u, v, f"{where}[{i}]")
    else:
        assert x == y, where


def test_artifact_distributed_reload_parity(spark, world, tmp_path):
    # the reload recompiles from the artifact's zones table on
    # executors, collecting only compiled blobs; it must rebuild the
    # saving engine's index exactly, every field and level
    import dataclasses

    from tzengine.engine import TzEngine

    eng = TzEngine.for_region(spark, world, -50, -50, 50, 50,
                              world_version="big1")
    path = str(tmp_path / "art")
    eng.save_artifact(path)
    a, b = eng.idx, TzEngine.from_artifact(spark, path).idx
    for f in dataclasses.fields(a):
        _assert_same(getattr(a, f.name), getattr(b, f.name), f.name)


def test_distributed_parity_keeps_zero_area_passthrough_piece(spark):
    # a degenerate (zero-area) piece fully inside the region must be
    # treated identically by both compile paths (code-review regression)
    from tzengine.engine import TzEngine
    from tzengine.zones import ZonePiece, pieces_to_df, _rect, make_piece

    degen = ZonePiece(
        "Zone/Line", 0, 0,
        [np.array([[0.0, 0.0], [1.0, 1.0], [2.0, 2.0]])],
    )
    filler = make_piece("Zone/Fill", 0, 1, [_rect(-5, -5, 5, 5)])
    pieces = [degen, filler]
    a = TzEngine.for_region(spark, pieces, -10, -10, 10, 10,
                            world_version="z")
    b = TzEngine.for_region(spark, pieces_to_df(spark, pieces),
                            -10, -10, 10, 10, world_version="z")
    assert a.idx.zone_ids == b.idx.zone_ids
    assert a.idx.n_pieces == b.idx.n_pieces


def test_dense_level_tables_bounded(idx):
    """Round-3 review fix: dense lookup tables must never dwarf the
    arrays they replace — sparse levels (few cells, wide footprint)
    fall back to binary search instead of burning broadcast bytes."""
    total = 0
    for res, (tbl, ix0, iy0, w, h) in idx.level_dense.items():
        # round 6: tables carry a one-cell zero border the probe clamps
        # into (no bounds mask), so stored size is (W+2)x(H+2)
        assert tbl.size == (w + 2) * (h + 2)
        assert tbl.size <= index.DENSE_LEVEL_CAP, res
        # the border must be all-miss: clamped out-of-footprint probes
        # land there and MUST read 0
        t2 = tbl.reshape(h + 2, w + 2)
        assert not t2[0].any() and not t2[-1].any()
        assert not t2[:, 0].any() and not t2[:, -1].any()
        total += tbl.size
    assert total <= index.DENSE_TOTAL_CAP
    # the hottest level (most entries) is dense; the sparse high-res
    # levels of this world are not
    by_entries = max(idx.levels, key=lambda r: len(idx.levels[r][2]))
    assert by_entries in idx.level_dense


# ---------------------------------------------------------------------------
# Vertex-scale world (VERDICT r3 #3): >=1M float32 coastline-resolution
# vertices — the 100x axis the 42k-vertex worlds left unmeasured.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def huge():
    from tzengine.bigworld import huge_world

    pieces = huge_world()
    idx_h = index.compile_index(pieces, -90, -180, 90, 180,
                                world_version="huge1")
    return pieces, idx_h


@pytest.fixture(scope="module")
def big454():
    pieces = big_world()
    return pieces, index.compile_index(pieces, -90, -180, 90, 180, "big454")


def test_boundary_entries_carry_segments(big454, huge):
    """probe_ranks reduces each boundary entry's local-segment run with
    ``reduceat``, which is wrong for an empty run: every boundary entry
    must carry at least one local segment (cover_piece emits a boundary
    cell only for an exact cell-segment touch)."""
    from tzengine.zones import synthetic_world

    synth = synthetic_world()
    indexes = {
        "synth": index.compile_index(synth, -90, -180, 90, 180, "s"),
        "synth_clip": index.compile_index(synth, 4, 4, 5, 5, "s"),
        "big454": big454[1],
        "big454_clip": index.compile_index(big454[0], -50, -50, 50, 50, "b"),
        "huge": huge[1],
    }
    for name, idx in indexes.items():
        runs = np.diff(idx.ent_seg_off)[~idx.ent_interior]
        assert len(runs) and runs.min() >= 1, name


@pytest.mark.parametrize("metric", ["geodesic", "planar_deg"])
@pytest.mark.parametrize("world", ["big454", "huge"])
def test_q5_kernel_matches_oracle_map(request, world, metric):
    """The flat Q5 kernel (probe_ranks + one foot call) equals the
    reference's per-piece path bit-for-bit on seeded samples: the first
    containing zone, the last one (the ocean filler under a tile), random
    zones (mostly misses) and NULL zones, at random points and exact
    vertices; strict mode raises on the misses only."""
    pieces, idx = request.getfixturevalue(world)
    oracle = OracleMap(pieces, -90, -180, 90, 180)
    rng = np.random.default_rng(31)
    n = 240
    verts = ring_vertices(idx)
    vsel = rng.integers(0, len(verts), 40)
    lats = np.concatenate([rng.uniform(-63, 63, n), verts[vsel, 1]])
    lons = np.concatenate([rng.uniform(-63, 63, n), verts[vsel, 0]])
    offs, ranks, _ = probe.probe_ranks(idx, lats, lons, mode="pipeline")
    zones = []
    for i in range(len(lats)):
        rs = ranks[offs[i]:offs[i + 1]]
        pick = {0: rs[:1], 1: rs[-1:], 2: [rng.integers(0, idx.n_pieces)]}
        r = pick.get(i % 4, [])
        zones.append(idx.zone_ids[r[0]] if len(r) else None)
    want = np.array([
        oracle.get_distance_from_boundary(z, la, lo, metric)
        for z, la, lo in zip(zones, lats, lons)
    ])
    got = probe.distance_from_boundary_batch(
        idx, zones, lats, lons, mode="pipeline", metric=metric
    )
    assert np.array_equal(got, want, equal_nan=True)
    miss = np.isnan(want) & np.not_equal(zones, None)
    assert miss.any() and (~np.isnan(want)).sum() > n // 2
    with pytest.raises(ValueError, match="inside the time zone"):
        probe.distance_from_boundary_batch(
            idx, zones, lats, lons, mode="strict", metric=metric
        )
    keep = ~miss
    strict = probe.distance_from_boundary_batch(
        idx, [z for z, k in zip(zones, keep) if k], lats[keep], lons[keep],
        mode="strict", metric=metric,
    )
    assert np.array_equal(strict, want[keep], equal_nan=True)


def test_hugeworld_shape_and_broadcast_bound(huge):
    pieces, idx_h = huge
    n_verts = sum(len(r) for p in pieces for r in p.rings)
    assert n_verts >= 1_000_000
    # all vertices sit on the float32 grid (B3 ingest contract)
    v = ring_vertices(idx_h)
    np.testing.assert_array_equal(v, v.astype(np.float32).astype(np.float64))
    # broadcast stays bounded: each vertex stored once (f32 ring-closed
    # coords) plus cells — the index must not blow up superlinearly in V
    assert idx_h.nbytes() < 80 * 1024 * 1024, idx_h.nbytes()
    assert idx_h.ent_interior.any() and (~idx_h.ent_interior).any()


@pytest.mark.parametrize("name", ["synth", "big454"])
def test_nbytes_counts_every_array(request, name):
    """nbytes() is the sum over every array the index holds (each ndarray
    field, the lookup levels, the dense level tables) and stays within
    the pickled broadcast."""
    import dataclasses
    import pickle

    from tzengine.zones import synthetic_world

    if name == "synth":
        idx = index.compile_index(synthetic_world(), -90, -180, 90, 180,
                                  world_version="synth1")
    else:
        idx = request.getfixturevalue(name)[1]
    fields = [getattr(idx, f.name) for f in dataclasses.fields(idx)]
    arrays = [v for v in fields if isinstance(v, np.ndarray)]
    arrays += [a for lvl in idx.levels.values() for a in lvl]
    arrays += [d[0] for d in idx.level_dense.values()]
    assert idx.nbytes() == sum(a.nbytes for a in arrays)
    assert idx.nbytes() <= len(pickle.dumps(idx, pickle.HIGHEST_PROTOCOL))


def test_hugeworld_probe_matches_dense_pip(huge):
    """Value correctness at 1M vertices: the cell-index probe must equal
    the direct per-piece boundary-inclusive PIP (rank order = area
    ascending) on random points AND on exact-boundary points (polygon
    vertices), where the dense-grid level tables and f32 segment storage
    are most stressed."""
    from tzengine import geom

    pieces, idx_h = huge
    rng = np.random.default_rng(21)
    lats = rng.uniform(-63, 63, 300)
    lons = rng.uniform(-63, 63, 300)
    # 100 exact polygon vertices as probe points (on-boundary inclusivity)
    verts = ring_vertices(idx_h)
    vsel = rng.integers(0, len(verts), 100)
    lats = np.concatenate([lats, verts[vsel, 1]])
    lons = np.concatenate([lons, verts[vsel, 0]])

    offs, ranks, valid = probe.probe_ranks(idx_h, lats, lons, mode="strict")
    got = [ranks[offs[i]:offs[i + 1]].tolist() for i in range(len(lats))]

    pts = np.stack([lons, lats], axis=1)
    expect = [[] for _ in range(len(lats))]
    for rank in range(idx_h.n_pieces):
        rings = idx_h.piece_rings(rank)
        inside = geom.contains_inclusive(pts, rings)
        for i in np.nonzero(inside)[0]:
            expect[i].append(rank)
    assert got == expect


def test_hugeworld_oracle_map_spot_check(huge):
    """The literal reference-semantics OracleMap (linear scan, pre-clip
    area sort) agrees with the engine on sampled points incl. a vertex."""
    pieces, idx_h = huge
    oracle = OracleMap(pieces, -90, -180, 90, 180)
    rng = np.random.default_rng(5)
    vertex = ring_vertices(idx_h)[12345]
    lats = list(rng.uniform(-63, 63, 8)) + [float(vertex[1])]
    lons = list(rng.uniform(-63, 63, 8)) + [float(vertex[0])]
    offs, ranks, valid = probe.probe_ranks(
        idx_h, np.array(lats), np.array(lons), mode="strict"
    )
    _, tzids = ranks_to_tzids(idx_h, offs, ranks, valid)
    for i, (la, lo) in enumerate(zip(lats, lons)):
        assert tzids[i] == oracle.get_overlapping_time_zones(la, lo)


def test_hugeworld_distributed_compile_parity(spark):
    """The executor compile (compile_source blobs) must produce
    bit-identical index arrays on a coastline-shaped world (reduced grid
    for CI speed; the kernel/covering path is the same)."""
    from tzengine.bigworld import huge_world
    from tzengine.engine import TzEngine
    from tzengine.zones import pieces_to_df

    world = huge_world(grid=5, verts=800)
    local = TzEngine.for_everywhere(spark, world, world_version="hugeS")
    dist = TzEngine.for_everywhere(
        spark, pieces_to_df(spark, world), world_version="hugeS",
    )
    a, b = local.idx, dist.idx
    assert a.zone_ids == b.zone_ids
    for field in ["areas", "piece_bbox", "coord_offsets", "coords",
                  "ent_rank", "ent_interior", "ent_center", "ent_seg_off",
                  "ent_seg_idx", "knn_grid", "knn_off", "knn_rank",
                  "knn_bound"]:
        np.testing.assert_array_equal(getattr(a, field), getattr(b, field),
                                      err_msg=field)


def test_knn_planar_metric_matches_dense_planar_sweep(idx):
    """metric='planar_deg' must equal the dense planar sweep exactly
    (the SQL-oracle-able ordering; the driver value-verifies the same
    ordering end-to-end via knn_zones_planar)."""
    rng = np.random.default_rng(17)
    lats = rng.uniform(-60, 60, 48)
    lons = rng.uniform(-60, 60, 48)
    got = zone_names(
        idx, probe.knn_zones_batch(idx, lats, lons, k=3, metric="planar_deg")
    )
    assert got == dense_knn_names(idx, lats, lons, 3, metric="planar_deg")
