"""Covering-index compiler + versioned broadcast artifact.

Reproduces the reference's index-construction semantics
(`TimeZoneMap.forRegion`, TimeZoneMap.kt:156-243) and replaces its
physical strategy (area-sorted list + lazy linear scan) with the
north-star design: a mixed-resolution cell covering with
interior/boundary flags, compiled once and broadcast to executors.

Pipeline (reference step → here):
  I1  validate min<max                  → ``validate_region``
  I5  bbox prune before deserialize     → pushed-down Parquet predicate
                                          (zones DataFrame input)
  I10 exact-extent filter               → ``compile_source``
  I11 area sort, stable ordinal ties    → ``assemble_sources``: ``rank`` =
                                          position after
                                          ``sorted(key=(area, ordinal))``
  I12 clip + split to init region       → ``compile_source``
                                          (``geom.clip_rings_to_box_split``)
  I13 materialize + broadcast           → ``CompiledIndex`` → ``sc.broadcast``
  I3  version gate                      → ``load_index_meta`` checks
                                          "<fmt>:<world>" marker

A piece list compiles on the driver (``compile_index``); a zones
DataFrame runs the same ``compile_source`` on executors and ships
``pack_piece`` blobs (``engine.TzEngine._compile_on_executors``). Both
end in ``assemble_sources``.

The compiled artifact is flat numpy (CSR) — no Python dicts-of-lists — so
the probe kernel stays fully vectorized and the broadcast pickles small.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

from . import INDEX_FORMAT_VERSION, cells, geom
from .zones import ZonePiece


def validate_region(min_lat, min_lon, max_lat, max_lon) -> None:
    """Reference I1 (TimeZoneMap.kt:160-161): strict inequality, same
    messages, ValueError standing in for IllegalArgumentException."""
    if not min_lat < max_lat:
        raise ValueError("Minimum latitude must be less than maximum latitude")
    if not min_lon < max_lon:
        raise ValueError("Minimum longitude must be less than maximum longitude")


@dataclass
class CompiledIndex:
    """Broadcast payload. All arrays flat; ``rank`` == piece position
    (pieces are stored area-rank-ascending, the reference's deterministic
    overlap order, TimeZoneMap.kt:216-217)."""

    version: str  # "<INDEX_FORMAT_VERSION>:<world_version>"
    init_region: tuple[float, float, float, float]  # min_lat,min_lon,max_lat,max_lon
    zone_ids: list[str]  # per piece, rank order
    polygon_ids: np.ndarray  # int32 per piece
    areas: np.ndarray  # float64 pre-clip area (deg^2) per piece
    # per-piece POST-clip bbox (lo_lon, lo_lat, hi_lon, hi_lat) — the kNN
    # pruning bound (geodesic lower bound to the bbox beats exact
    # boundary-distance evaluation of far pieces)
    piece_bbox: np.ndarray  # float64 (P, 4)
    # clipped ring geometry, CSR piece -> rings -> vertices
    ring_offsets: np.ndarray  # int64 (P+1,)
    vert_offsets: np.ndarray  # int64 (R+1,)
    verts: np.ndarray  # float64 (V, 2) lon,lat
    # flat segment arrays (ring-closing edges included), piece -> span.
    # Stored float32 when the float64->float32 round-trip is LOSSLESS
    # (always true for unclipped worlds: every ingested coordinate sits on
    # the f32 grid, zones.make_piece / Serialization.kt:12) — halves the
    # random-gather bandwidth of the probe boundary kernel; the kernel
    # upcasts gathered slices to float64 before any arithmetic so the
    # predicates are bit-identical. Clip-generated vertices that are not
    # f32-exact keep float64 storage (correctness over bandwidth).
    seg_offsets: np.ndarray  # int64 (P+1,), every span non-empty
    seg_a: np.ndarray  # float32|float64 (S, 2)
    seg_b: np.ndarray  # float32|float64 (S, 2)
    # global cell-entry arrays (E entries across all levels):
    #   rank of the piece, interior flag, even-odd state of the CELL
    #   CENTER, and the CSR of cell-local segment ids (north_star:
    #   boundary cells carry their own geometry — probe cost is O(local
    #   segments), independent of total zone vertex count)
    ent_rank: np.ndarray  # int32 (E,)
    ent_interior: np.ndarray  # bool (E,)
    ent_center: np.ndarray  # bool (E,)
    ent_seg_off: np.ndarray  # int64 (E+1,)
    ent_seg_idx: np.ndarray  # int32 (sum of local segs,)
    # cell lookup per resolution: res -> (sorted cell ids, offsets,
    # entry ids). Round 6: adjacent covering resolutions are MERGED at
    # assembly (quadtree rasterization, ``merge_levels``) — a coarse
    # cell's entry is re-homed onto its descendant cells at a finer
    # existing level, so the probe pays one lookup pass per REMAINING
    # level (1-2 in every bench world, was 7-8). Entry ids (and all
    # ent_* arrays) are untouched; only the lookup tables change, and a
    # point's candidate entry set is identical by construction.
    levels: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]]
    # probe acceleration: res -> (tbl int32 (W*H,), ix0, iy0, W, H) dense
    # grid over the level's cell footprint mapping (ix,iy) -> 1-based
    # position in the level's sorted cell array (0 = miss). One gather
    # replaces a binary search per (point, level). Levels whose footprint
    # exceeds the memory cap fall back to searchsorted (empty dict entry).
    level_dense: dict[int, tuple] = field(default_factory=dict)
    # per-entry center of the entry's ORIGINAL covering cell (the point
    # whose even-odd state ``ent_center`` holds). Precomputed at
    # assembly with the exact arithmetic the probe used to apply to the
    # probed cell id — (lo+hi)/2 over cells.cell_bounds — so the
    # boundary test is bit-identical; storing it per entry frees the
    # probe from tracking WHICH cell produced a candidate (level
    # merging re-homes entries onto finer cells, whose centers would be
    # the wrong parity anchor).
    ent_cx: np.ndarray = None  # float64 (E,)
    ent_cy: np.ndarray = None  # float64 (E,)
    # kNN candidate lists (``probe.knn_cell_lists``): a grid of square
    # cells (lon0, lat0, step, nx, ny) over the pieces, and per cell the
    # ranks of every piece one of its points can need among its
    # probe.KNN_MAX_K nearest zones (CSR), plus a planar-degree upper
    # bound on that k-th zone distance
    knn_grid: np.ndarray = None  # float64 (5,)
    knn_off: np.ndarray = None  # int32 (nx*ny+1,)
    knn_rank: np.ndarray = None  # int16|int32 (L,)
    knn_bound: np.ndarray = None  # float64 (nx*ny,)

    @property
    def n_pieces(self) -> int:
        return len(self.zone_ids)

    def piece_rings(self, rank: int) -> list[np.ndarray]:
        rings = []
        for ri in range(self.ring_offsets[rank], self.ring_offsets[rank + 1]):
            rings.append(self.verts[self.vert_offsets[ri] : self.vert_offsets[ri + 1]])
        return rings

    def nbytes(self) -> int:
        n = (self.verts.nbytes + self.ring_offsets.nbytes
             + self.vert_offsets.nbytes + self.seg_a.nbytes + self.seg_b.nbytes
             + self.ent_rank.nbytes + self.ent_interior.nbytes
             + self.ent_center.nbytes + self.ent_seg_off.nbytes
             + self.ent_seg_idx.nbytes + self.knn_grid.nbytes
             + self.knn_off.nbytes + self.knn_rank.nbytes
             + self.knn_bound.nbytes)
        for lvl in self.levels.values():
            n += sum(a.nbytes for a in lvl)
        for d in self.level_dense.values():
            n += d[0].nbytes
        return n


def _base_res_for_bbox(w_lon: float, h_lat: float) -> int:
    """Finest resolution whose cells are at least as large as the piece
    bbox, so at most 2x2 cells cover it."""
    span = max(w_lon, 2.0 * h_lat, 1e-9)
    r = int(np.floor(np.log2(360.0 / span)))
    return int(np.clip(r, 0, cells.MAX_RES))


# cover_piece stops subdividing once another level could push the
# emitted cell count past this cap
MAX_COVER_CELLS = 4096


def cover_piece(rings: list[np.ndarray], depth: int = 5) -> tuple:
    """The cell covering of one (clipped) piece: ``cover_cells`` from the
    piece's base resolution down to ``depth`` levels finer, capped at
    MAX_COVER_CELLS. This is the engine replacement for the reference's
    O3 (smallest-area-first + lazy scan) — interior hits resolve O(1) at
    probe time, exact ray-casting only on boundary cells (north_star)."""
    lo_lon, lo_lat, hi_lon, hi_lat = geom.rings_bbox(rings)
    base = _base_res_for_bbox(hi_lon - lo_lon, hi_lat - lo_lat)
    return cover_cells(
        rings, base, min(base + depth, cells.MAX_RES), MAX_COVER_CELLS
    )


def cover_cells(
    rings: list[np.ndarray], start_res: int, end_res: int, max_cells: float
) -> tuple:
    """Classify the cells of a piece by a BFS from the cells covering its
    bbox at ``start_res``.

    Returns (cell_ids uint64, interior bool, (cell_pos, seg_idx)). A
    cell no boundary segment touches is uniformly inside or outside
    (decided by a center-point PIP; the inside ones are kept as
    interior cells); a cell the boundary touches is subdivided until
    ``end_res``, or until another level could push the emitted cell
    count to ``max_cells`` (``math.inf``: no cap), then kept as a
    boundary cell.

    Segment-cell incidences PROPAGATE down the BFS: a segment touching a
    child cell's closed rectangle must touch its parent's (the child
    rect is a subset), so the candidates for a level are the 4-way
    expansion of the previous level's incidences. Level 0 starts from
    every (start cell, segment) pair — at most 2x2 cells when
    ``start_res`` is at most the piece's base resolution — and every
    level runs the same bbox prescreen and exact
    ``geom.segments_box_touch`` test. The last element holds the final
    boundary incidences: row-major over the emitted boundary cells
    (``cell_pos`` indexes them in emission order), so ``compile_piece``
    does not have to recompute them.
    """
    lo_lon, lo_lat, hi_lon, hi_lat = geom.rings_bbox(rings)
    seg_a, seg_b = geom._segments(rings)
    sx0 = np.minimum(seg_a[:, 0], seg_b[:, 0])
    sx1 = np.maximum(seg_a[:, 0], seg_b[:, 0])
    sy0 = np.minimum(seg_a[:, 1], seg_b[:, 1])
    sy1 = np.maximum(seg_a[:, 1], seg_b[:, 1])

    out_cells_parts: list[np.ndarray] = []
    out_interior_parts: list[np.ndarray] = []
    b_pairs = (np.zeros(0, np.int64), np.zeros(0, np.int64))
    frontier = cells.cells_covering_bbox(
        lo_lon, lo_lat, hi_lon, hi_lat, start_res
    )
    n_emitted = 0
    # candidate (frontier cell, segment) pairs: all of them at level 0
    rows = np.repeat(np.arange(len(frontier), dtype=np.int64), len(seg_a))
    cols = np.tile(np.arange(len(seg_a), dtype=np.int64), len(frontier))

    while len(frontier):
        b = cells.cell_bounds(frontier)
        # prune: cell rect vs piece bbox
        keep = ~(
            (b[:, 2] < lo_lon)
            | (b[:, 0] > hi_lon)
            | (b[:, 3] < lo_lat)
            | (b[:, 1] > hi_lat)
        )
        # rows/cols index the UNPRUNED frontier; remap through the prune
        new_pos = np.cumsum(keep) - 1
        frontier, b = frontier[keep], b[keep]
        if not len(frontier):
            break
        sel = keep[rows]
        rows, cols = new_pos[rows[sel]], cols[sel]
        # bbox prescreen: an inclusive touch needs the segment's bbox to
        # overlap the cell rect (segments_box_touch's outcode reject says
        # the same) — drops most candidates before the exact test
        near = (
            (sx1[cols] >= b[rows, 0])
            & (sx0[cols] <= b[rows, 2])
            & (sy1[cols] >= b[rows, 1])
            & (sy0[cols] <= b[rows, 3])
        )
        rows, cols = rows[near], cols[near]
        ok = geom.segments_box_touch(seg_a[cols], seg_b[cols], b[rows])
        rows, cols = rows[ok], cols[ok]
        crossed = np.zeros(len(b), dtype=bool)
        crossed[rows] = True

        # uniform cells: decide by center point, keep the interior ones.
        # Strict even-odd ONLY: no segment touches a uniform cell's
        # closed rectangle (the exact inclusive segment-box test above
        # said so), and the center sits strictly inside that rectangle,
        # so it cannot lie within ON_EDGE_EPS of any segment — the
        # points_on_boundary half of containsInclusive is provably False
        # here.
        uni = ~crossed
        if np.any(uni):
            centers = np.stack(
                [(b[uni, 0] + b[uni, 2]) / 2.0, (b[uni, 1] + b[uni, 3]) / 2.0],
                axis=1,
            )
            inside = geom.points_in_rings_evenodd(centers, seg_a, seg_b)
            inner = frontier[uni][inside]
            if len(inner):
                out_cells_parts.append(inner)
                out_interior_parts.append(np.ones(len(inner), dtype=bool))
                n_emitted += len(inner)

        cross_cells = frontier[crossed]
        if not len(cross_cells):
            break
        res = int(cells.cell_res(cross_cells[:1])[0])
        n_cross = len(cross_cells)
        cross_pos = np.full(len(b), -1, dtype=np.int64)
        cross_pos[np.nonzero(crossed)[0]] = np.arange(n_cross)
        ppos = cross_pos[rows]
        if res >= end_res or n_emitted + 4 * n_cross >= max_cells:
            out_cells_parts.append(cross_cells)
            out_interior_parts.append(np.zeros(n_cross, dtype=bool))
            o = np.lexsort((cols, ppos))
            b_pairs = (ppos[o], cols[o])
            break
        # subdivide every crossed cell (vectorized children); candidate
        # pairs for the children are the 4-way expansion of this level's
        # exact pairs (child i of crossed cell at cross-position p sits
        # at frontier index 4*p + i next level)
        morton = cross_cells & np.uint64((1 << 58) - 1)
        bases = (np.uint64(res + 1) << np.uint64(58)) | (morton << np.uint64(2))
        frontier = (bases[:, None] + np.arange(4, dtype=np.uint64)[None, :]).ravel()
        rows = (
            (ppos * 4)[:, None] + np.arange(4, dtype=np.int64)[None, :]
        ).ravel()
        cols = np.repeat(cols, 4)

    if out_cells_parts:
        return (
            np.concatenate(out_cells_parts),
            np.concatenate(out_interior_parts),
            b_pairs,
        )
    return np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=bool), b_pairs


def check_unique_ordinals(pieces) -> None:
    """Ordinals are the (area, ordinal) tie-break of the I11 sort: a
    duplicate would make rank order input-dependent, so fail fast
    (ADVICE r2 #4: the geojsonl content-hash ordinal fallback can
    collide at ~2^-30 per pair). ``pieces``: anything with ``ordinal``,
    ``zone_id`` and ``polygon_id`` attributes (ZonePiece, Spark Row)."""
    seen: set[int] = set()
    for p in pieces:
        if p.ordinal in seen:
            raise ValueError(
                f"duplicate zone-piece ordinal {p.ordinal} "
                f"(zone {p.zone_id}/{p.polygon_id}): ordinals must be "
                "globally unique for a deterministic area-sort tie-break"
            )
        seen.add(p.ordinal)


def compile_source(
    rings: list[np.ndarray],
    min_lat: float,
    min_lon: float,
    max_lat: float,
    max_lon: float,
    depth: int = 5,
) -> list[dict]:
    """Compile ONE source piece into its ``compile_piece`` components —
    the unit both compiles share (inline on the driver in
    ``compile_index``, in a mapInArrow on executors in
    ``engine.TzEngine._compile_on_executors``).

    I10: exact-extent prune (inclusive intersect, like
    Envelope2D.isIntersecting) — a piece outside the region yields [].
    I12: a piece inside the region passes through whatever its area;
    otherwise it is clipped and SPLIT into one entry per connected
    component — the reference's flatMap over the intersection cursor
    (TimeZoneMap.kt:220-235) — and empty clip results are dropped
    (pointCount>0)."""
    lo_lon, lo_lat, hi_lon, hi_lat = geom.rings_bbox(rings)
    if hi_lat < min_lat or lo_lat > max_lat or hi_lon < min_lon or lo_lon > max_lon:
        return []
    if lo_lat >= min_lat and hi_lat <= max_lat and lo_lon >= min_lon and hi_lon <= max_lon:
        comps = [rings]
    else:
        comps = [
            c
            for c in geom.clip_rings_to_box_split(
                rings, min_lon, min_lat, max_lon, max_lat
            )
            if c and geom.polygon_area2d(c) > 0
        ]
    return [compile_piece(c, depth=depth) for c in comps]


def assemble_sources(
    sources: list[tuple[str, int, int, float, list[dict]]],
    min_lat: float,
    min_lon: float,
    max_lat: float,
    max_lon: float,
    world_version: str,
) -> CompiledIndex:
    """I11 + assembly. ``sources``: one (zone_id, polygon_id, ordinal,
    pre-clip area, components) tuple per source piece, ordinals unique.
    Sorts by (pre-clip area, ordinal) — the reference's stable area
    sort — and flattens the components in that order, so the components
    of one source piece stay consecutive."""
    metas: list[tuple[str, int, float]] = []
    datas: list[dict] = []
    for zone_id, polygon_id, _ordinal, area, comps in sorted(
        sources, key=lambda s: (s[3], s[2])
    ):
        metas += [(zone_id, polygon_id, area)] * len(comps)
        datas += comps
    # a module-global call: perfbench's tracer wraps index.assemble_index
    return assemble_index(
        metas, datas, min_lat, min_lon, max_lat, max_lon, world_version
    )


def compile_index(
    pieces: list[ZonePiece],
    min_lat: float,
    min_lon: float,
    max_lat: float,
    max_lon: float,
    world_version: str,
    depth: int = 5,
) -> CompiledIndex:
    """Driver-side compile, mirroring TimeZoneMap.kt:156-243 step order:
    ``compile_source`` per piece, then ``assemble_sources`` — the same
    two steps a zones DataFrame runs with ``compile_source`` on
    executors."""
    validate_region(min_lat, min_lon, max_lat, max_lon)
    check_unique_ordinals(pieces)
    sources = [
        (
            p.zone_id, p.polygon_id, p.ordinal, p.area2d,
            compile_source(p.rings, min_lat, min_lon, max_lat, max_lon, depth),
        )
        for p in pieces
    ]
    return assemble_sources(
        sources, min_lat, min_lon, max_lat, max_lon, world_version
    )


def compile_piece(rings: list[np.ndarray], depth: int = 5) -> dict:
    """Compile ONE clipped component into flat arrays (called by
    ``compile_source``, on the driver or on executors). All ids are
    RELATIVE to the piece; ``assemble_index`` applies global offsets.

    Keys: verts (V,2) f64; ring_lens (R,) i64; seg_a/seg_b (S,2) f64;
    bbox (4,) f64 (lo_lon, lo_lat, hi_lon, hi_lat); cells (E,) u64;
    interior/center (E,) bool; loc_off (E+1,) i64 + loc_idx (L,) i32 —
    per-cell CSR of piece-local segment ids for boundary cells."""
    sa, sb = geom._segments(rings)
    cids, interior, (brow, bcol) = cover_piece(rings, depth=depth)
    bounds = cells.cell_bounds(cids)
    centers = np.stack(
        [(bounds[:, 0] + bounds[:, 2]) / 2, (bounds[:, 1] + bounds[:, 3]) / 2],
        axis=1,
    )
    center_in = geom.points_in_rings_evenodd(centers, sa, sb)
    # boundary cells: attach the segments touching each cell as a
    # cell-local CSR
    n_cells = len(cids)
    loc_counts = np.zeros(n_cells, dtype=np.int64)
    idx_parts: list[np.ndarray] = []
    bsel = np.nonzero(~interior)[0]
    if len(bsel):
        # boundary incidences come straight from the covering BFS
        # (cover_piece's third result): exactly the touching pairs of
        # the emitted boundary cells, row-major
        loc_counts[bsel] = np.bincount(brow, minlength=len(bsel))
        idx_parts.append(bcol.astype(np.int32))  # row-major order
    loc_off = np.zeros(n_cells + 1, dtype=np.int64)
    np.cumsum(loc_counts, out=loc_off[1:])
    return {
        "verts": np.vstack(rings) if rings else np.zeros((0, 2)),
        "ring_lens": np.array([len(r) for r in rings], dtype=np.int64),
        "seg_a": sa,
        "seg_b": sb,
        "bbox": np.array(geom.rings_bbox(rings), dtype=np.float64),
        "cells": cids,
        "interior": interior,
        "center": center_in,
        "loc_off": loc_off,
        "loc_idx": (
            np.concatenate(idx_parts) if idx_parts else np.zeros(0, np.int32)
        ),
    }


def pack_piece(d: dict) -> bytes:
    """Compact wire form of a compiled piece (numpy-pickled blob) — what
    crosses executor→driver when a zones DataFrame compiles, instead of
    nested-Row ring geometry."""
    import pickle

    return pickle.dumps(d, protocol=5)


def unpack_piece(b: bytes) -> dict:
    import pickle

    return pickle.loads(b)


def assemble_index(
    metas: list[tuple[str, int, float]],
    datas: list[dict],
    min_lat: float,
    min_lon: float,
    max_lat: float,
    max_lon: float,
    world_version: str,
) -> CompiledIndex:
    """Concatenate compiled pieces (already in rank order) into the
    broadcast CompiledIndex. Pure array concatenation + one lexsort per
    cell level — no per-cell Python loops, so driver cost stays linear in
    index BYTES even at 100x zone worlds."""
    zone_ids = [m[0] for m in metas]
    polygon_ids = np.array([m[1] for m in metas], dtype=np.int32)
    areas = np.array([m[2] for m in metas], dtype=np.float64)
    P = len(datas)

    ring_counts = np.array([len(d["ring_lens"]) for d in datas], dtype=np.int64)
    ring_offsets = np.zeros(P + 1, dtype=np.int64)
    np.cumsum(ring_counts, out=ring_offsets[1:])
    vert_lens = (
        np.concatenate([d["ring_lens"] for d in datas])
        if P
        else np.zeros(0, dtype=np.int64)
    )
    vert_offsets = np.zeros(len(vert_lens) + 1, dtype=np.int64)
    np.cumsum(vert_lens, out=vert_offsets[1:])
    verts = (
        np.vstack([d["verts"] for d in datas]) if P else np.zeros((0, 2))
    )

    seg_counts = np.array([len(d["seg_a"]) for d in datas], dtype=np.int64)
    # the distance kernels (probe._nearest_feet_flat) need a segment in
    # every piece; such a piece could contain no point anyway
    if P and not seg_counts.all():
        bad = int(np.argmin(seg_counts))
        raise ValueError(
            f"zone piece {zone_ids[bad]!r} (rank {bad}) has no boundary "
            "segment: every piece needs a ring of at least two vertices"
        )
    seg_offsets = np.zeros(P + 1, dtype=np.int64)
    np.cumsum(seg_counts, out=seg_offsets[1:])
    seg_a = np.vstack([d["seg_a"] for d in datas]) if P else np.zeros((0, 2))
    seg_b = np.vstack([d["seg_b"] for d in datas]) if P else np.zeros((0, 2))
    # float32 storage when lossless (see CompiledIndex field docs): halves
    # broadcast size and probe gather bandwidth with bit-identical results
    sa32, sb32 = seg_a.astype(np.float32), seg_b.astype(np.float32)
    if np.array_equal(sa32.astype(np.float64), seg_a) and np.array_equal(
        sb32.astype(np.float64), seg_b
    ):
        seg_a, seg_b = sa32, sb32
    piece_bbox = (
        np.vstack([d["bbox"] for d in datas]) if P else np.zeros((0, 4))
    )

    ent_counts = np.array([len(d["cells"]) for d in datas], dtype=np.int64)
    ent_rank = np.repeat(np.arange(P, dtype=np.int32), ent_counts)
    ent_interior = (
        np.concatenate([d["interior"] for d in datas])
        if P
        else np.zeros(0, dtype=bool)
    )
    ent_center = (
        np.concatenate([d["center"] for d in datas])
        if P
        else np.zeros(0, dtype=bool)
    )
    all_cells = (
        np.concatenate([d["cells"] for d in datas])
        if P
        else np.zeros(0, dtype=np.uint64)
    )
    # local-segment CSR: per-piece relative offsets/ids -> global
    loc_lens = np.concatenate(
        [np.diff(d["loc_off"]) for d in datas]
    ) if P else np.zeros(0, dtype=np.int64)
    ent_seg_off = np.zeros(len(loc_lens) + 1, dtype=np.int64)
    np.cumsum(loc_lens, out=ent_seg_off[1:])
    ent_seg_idx = (
        np.concatenate(
            [
                d["loc_idx"].astype(np.int64) + seg_offsets[i]
                for i, d in enumerate(datas)
            ]
        ).astype(np.int32)
        if P
        else np.zeros(0, dtype=np.int32)
    )

    # cell levels: group (cell -> entries) per resolution; entry ids
    # ascend with rank, so the stable lexsort keeps rank-ascending order
    # within each cell
    levels = {}
    if len(all_cells):
        ent_ids = np.arange(len(all_cells), dtype=np.int32)
        res_all = cells.cell_res(all_cells).astype(np.int64)
        for r_level in np.unique(res_all):
            sel = res_all == r_level
            cell = all_cells[sel]
            ent = ent_ids[sel]
            order = np.lexsort((ent, cell))
            cell, ent = cell[order], ent[order]
            uniq, start = np.unique(cell, return_index=True)
            offsets = np.append(start, len(cell)).astype(np.int64)
            levels[int(r_level)] = (uniq, offsets, ent)
    levels = merge_levels(levels, len(all_cells))

    # per-entry parity anchor: the ORIGINAL covering cell's center, the
    # same (lo+hi)/2 doubles the probe formerly derived from the probed
    # cell id (bit-identical boundary test; see CompiledIndex docs)
    if len(all_cells):
        cb = cells.cell_bounds(all_cells)
        ent_cx = (cb[:, 0] + cb[:, 2]) / 2.0
        ent_cy = (cb[:, 1] + cb[:, 3]) / 2.0
    else:
        ent_cx = np.zeros(0, dtype=np.float64)
        ent_cy = np.zeros(0, dtype=np.float64)

    idx = CompiledIndex(
        ent_cx=ent_cx,
        ent_cy=ent_cy,
        level_dense=build_level_dense(levels),
        version=f"{INDEX_FORMAT_VERSION}:{world_version}",
        init_region=(float(min_lat), float(min_lon), float(max_lat), float(max_lon)),
        zone_ids=zone_ids,
        polygon_ids=polygon_ids,
        areas=areas,
        piece_bbox=piece_bbox,
        ring_offsets=ring_offsets,
        vert_offsets=vert_offsets,
        verts=verts,
        seg_offsets=seg_offsets,
        seg_a=seg_a,
        seg_b=seg_b,
        ent_rank=ent_rank,
        ent_interior=ent_interior,
        ent_center=ent_center,
        ent_seg_off=ent_seg_off,
        ent_seg_idx=ent_seg_idx,
        levels=levels,
    )
    from . import probe  # probe imports this module

    idx.knn_grid, idx.knn_off, idx.knn_rank, idx.knn_bound = (
        probe.knn_cell_lists(idx)
    )
    return idx


# The probe pays ~9 full-batch array passes PER LOOKUP LEVEL (shift,
# clamp x2, fused index, gather, hit scan ...), so a level with a dozen
# cells costs as much per batch as one with 40k — on the 8-level bench
# worlds the level loop was ~70% of the probe kernel. merge_levels
# collapses the quadtree at assembly: each level's (cell, entry) pairs
# are pushed down to the next existing level (child morton = m*4+j, the
# exact enumeration the covering BFS uses) while the expanded pair
# count stays within a budget, then materialized. A point's ancestor
# cell at the coarse level contains it iff one of the 4^d descendants
# at the fine level does, so the candidate (point, entry) set — and
# with ent_cx/ent_cy as the parity anchor, every downstream value — is
# identical. Budget 8x the original entry count caps the CSR growth at
# a few MB on any world (bench worlds land on 1-2 levels).
LEVEL_MERGE_BUDGET_FLOOR = 1 << 16
LEVEL_MERGE_BUDGET_MULT = 8


def merge_levels(
    levels: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]],
    total_entries: int,
) -> dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """Collapse adjacent lookup levels (see the note above). Raises
    ValueError for a level outside [0, cells.MAX_RES]: the push-down
    shift would carry its Morton bits into the resolution field."""
    bad = [r for r in levels if not 0 <= r <= cells.MAX_RES]
    if bad:
        raise ValueError(
            f"cell level resolution {max(bad)} outside [0, {cells.MAX_RES}]"
        )
    if len(levels) <= 1:
        return levels
    budget = max(
        LEVEL_MERGE_BUDGET_FLOOR,
        LEVEL_MERGE_BUDGET_MULT * max(total_entries, 1),
    )
    resos = sorted(levels)
    merged: dict[int, tuple] = {}
    carry_cell: np.ndarray | None = None
    carry_ent: np.ndarray | None = None
    mask58 = np.uint64((1 << 58) - 1)
    for i, r in enumerate(resos):
        uniq, offsets, ent = levels[r]
        counts = np.diff(offsets)
        cell_r = np.repeat(uniq, counts)
        ent_r = ent
        if carry_cell is not None:
            cell_r = np.concatenate([carry_cell, cell_r])
            ent_r = np.concatenate([carry_ent, ent_r])
        if i + 1 < len(resos):
            nxt = resos[i + 1]
            d = nxt - r
            if len(cell_r) * 4**d <= budget:
                # push down: enumerate the 4^d descendants of each cell
                # at the next existing level (same child-morton layout
                # as the covering BFS: m -> m*4 + [0..4))
                k = np.uint64(4**d)
                bases = (np.uint64(nxt) << np.uint64(58)) | (
                    (cell_r & mask58) << np.uint64(2 * d)
                )
                carry_cell = (
                    bases[:, None] + np.arange(k, dtype=np.uint64)[None, :]
                ).ravel()
                carry_ent = np.repeat(ent_r, int(k))
                continue
        order = np.lexsort((ent_r, cell_r))  # ent asc == rank asc in cell
        cell_s, ent_s = cell_r[order], ent_r[order]
        u, start = np.unique(cell_s, return_index=True)
        offs = np.append(start, len(cell_s)).astype(np.int64)
        merged[int(r)] = (u, offs, ent_s.astype(np.int32))
        carry_cell = carry_ent = None
    return merged


# Dense tables trade one gather for a binary search, but a sparse level
# (few cells over a wide footprint) buys that with a table far larger
# than the uniq array it replaces — pure broadcast/cache waste (the
# 454-zone world's res-11 level: 751 cells, 3.2 MiB table). Small
# tables are always admitted; bigger ones only when the footprint is
# DENSE relative to its cell count (round 6: the 1M-vertex world's
# res-10 level — 43k boundary cells in a 255k-entry footprint, ratio
# ~6x — was over the old flat cap, leaving the hottest level on the
# binary-search path at ~40% of its lookup cost). A ~1 MiB table is
# still L2-resident; the waste-ratio gate keeps sparse levels out at
# ANY world size, so this is not a local[32] tune. With merge_levels
# leaving 1-2 lookup levels per world, a level may take the whole total
# budget (there is no per-level ceiling below it); the waste-ratio and
# total caps bound memory.
DENSE_LEVEL_CAP = 1 << 17  # always-admit size (512 KiB int32)
DENSE_WASTE_RATIO = 16  # admit larger tables only if size <= 16x cells
DENSE_TOTAL_CAP = 1 << 21  # max table entries across all levels (8 MiB)


def build_level_dense(
    levels: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]],
) -> dict[int, tuple]:
    """Dense (ix, iy)-grid lookup per level: tbl[(iy-iy0)*W + (ix-ix0)] =
    1-based position of the cell in the level's sorted array, 0 = miss.
    Replaces the per-(point, level) binary search with one gather — the
    search was ~40% of the probe kernel. Tables are bounded by the level's
    cell FOOTPRINT (bbox in grid units), not 4^res, and capped so the
    broadcast stays small; biggest-entry-count levels claim the budget
    first (they serve the most probe hits).

    Tables carry a one-cell ZERO BORDER (round 6): the probe clamps
    out-of-footprint grid coordinates into the border instead of
    computing a four-comparison bounds mask per (point, level) — the
    mask was ~25% of the per-level lookup cost on an 8-level world.
    Stored shape is therefore (H+2)·(W+2) with live cells at offset
    (+1, +1); ix0/iy0/w/h keep describing the LIVE footprint."""
    dense: dict[int, tuple] = {}
    budget = DENSE_TOTAL_CAP
    by_entries = sorted(
        levels.items(), key=lambda kv: len(kv[1][2]), reverse=True
    )
    for res, (uniq, _offsets, _ent) in by_entries:
        if not len(uniq):
            continue
        morton = uniq & np.uint64((1 << 58) - 1)
        ix, iy = cells.morton_decode(morton)
        ix0, iy0 = int(ix.min()), int(iy.min())
        w = int(ix.max()) - ix0 + 1
        h = int(iy.max()) - iy0 + 1
        size = (w + 2) * (h + 2)
        admit = size <= DENSE_LEVEL_CAP or size <= DENSE_WASTE_RATIO * len(uniq)
        if not admit or size > budget:
            continue
        tbl = np.zeros(size, dtype=np.int32)
        tbl[
            (iy.astype(np.int64) - iy0 + 1) * (w + 2)
            + (ix.astype(np.int64) - ix0 + 1)
        ] = np.arange(1, len(uniq) + 1, dtype=np.int32)
        dense[int(res)] = (tbl, ix0, iy0, w, h)
        budget -= size
    return dense


# --- durable artifact (Iceberg-style: data + JSON metadata sidecar) ---------


def save_index_meta(path: str, idx: CompiledIndex, extra: dict | None = None) -> None:
    meta = {
        "version": idx.version,
        "init_region": list(idx.init_region),
        "n_pieces": idx.n_pieces,
        "levels": sorted(int(k) for k in idx.levels),
        **(extra or {}),
    }
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "_index_meta.json"), "w") as f:
        json.dump(meta, f, indent=2)


def check_index_version(meta_version: str) -> None:
    """Reference I3 (TimeZoneMap.kt:175-178): fail fast before any job is
    submitted when the artifact format doesn't match the engine."""
    fmt = meta_version.split(":")[0] if meta_version else ""
    if fmt != INDEX_FORMAT_VERSION:
        raise ValueError(
            f"Incompatible map archive. Detected version is '{meta_version}' "
            f"required version '{INDEX_FORMAT_VERSION}:*'"
        )


def load_index_meta(path: str) -> dict:
    meta_file = os.path.join(path, "_index_meta.json")
    if not os.path.exists(meta_file):
        raise ValueError(
            "Incompatible map archive. Detected version is '<missing>' "
            f"required version '{INDEX_FORMAT_VERSION}:*'"
        )
    with open(meta_file) as f:
        meta = json.load(f)
    check_index_version(meta.get("version", ""))
    return meta
