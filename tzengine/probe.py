"""Vectorized probe kernels over a CompiledIndex (pure numpy).

These are the batch kernels the engine's Arrow UDFs call (engine.py); they
are Spark-free so the same code is unit-testable and runs inside Arrow
batches on executors. Semantics = reference point query (TimeZoneMap.kt:
56-85): init-region guard (Q3), boundary-inclusive containment (Q4),
smallest-area-first ordering (Q1/Q2), plus the distance kernel (Q5) and
the kNN fallback ordering (north_star).
"""

from __future__ import annotations

import dataclasses
import math

import numpy as np

from . import cells, geom
from .geom import _chunks, _expand
from .index import CompiledIndex, segment_starts

OUTSIDE_MSG = "Requested point is outside the initialized area"


def region_guard(idx: CompiledIndex, lats: np.ndarray, lons: np.ndarray) -> np.ndarray:
    """Inclusive containment in the initialized region (TimeZoneMap.kt:82;
    envelope border inclusive, one ULP outside rejected —
    TimeZoneMapTest.java:361-373). Returns bool mask of valid points."""
    min_lat, min_lon, max_lat, max_lon = idx.init_region
    return (
        (lats >= min_lat) & (lats <= max_lat) & (lons >= min_lon) & (lons <= max_lon)
    )


def probe_ranks(
    idx: CompiledIndex,
    lats: np.ndarray,
    lons: np.ndarray,
    mode: str = "strict",
    stats: dict | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Find all containing pieces per point.

    Returns (offsets, ranks, valid):
      offsets int64 (N+1,), ranks int32 — CSR of piece ranks per point,
      rank-ascending (= area-ascending, the reference overlap order);
      valid bool (N,) — False for out-of-region points in pipeline mode.

    strict mode raises ValueError on any out-of-region point (Q3 guard);
    pipeline mode marks them invalid and continues (per-partition violation
    accounting happens in the engine layer).

    ``stats`` (optional dict) is filled with probe-path evidence:
    n_candidates (point, entry) pairs and n_boundary_candidates (pairs
    that took the exact boundary pass) — the bench uses this to report
    the boundary-pass share at coastline vertex scale.
    """
    lats = np.asarray(lats, dtype=np.float64)
    lons = np.asarray(lons, dtype=np.float64)
    n = len(lats)

    valid = region_guard(idx, lats, lons)
    if mode == "strict":
        if not np.all(valid):
            raise ValueError(OUTSIDE_MSG)
    elif mode != "pipeline":
        raise ValueError(f"unknown mode: {mode}")

    pt_idx_parts: list[np.ndarray] = []
    ent_parts: list[np.ndarray] = []

    vi = np.nonzero(valid)[0]
    if len(vi):
        vlats, vlons = lats[vi], lons[vi]
        # one Morton encode at the finest level; coarser levels are pure
        # scalar bit-shifts of the base morton — the encode is ~half the
        # lookup cost, so it runs exactly once per batch
        max_res = max(idx.levels) if idx.levels else 0
        ix_base, iy_base = cells.grid_of(vlons, vlats, max_res)
        base_morton = cells.morton_encode(ix_base, iy_base)
        ix64 = ix_base.astype(np.int64)
        iy64 = iy_base.astype(np.int64)
        vi32 = vi.astype(np.int32)
        for res, (uniq, offsets, ent_ids) in idx.levels.items():
            if not len(uniq):
                continue
            shift = np.uint64(2 * (max_res - res))
            dense = idx.level_dense.get(res)
            if dense is not None:
                # dense-grid lookup: one gather instead of a binary
                # search. The table has a one-cell zero border (round
                # 6, build_level_dense), so out-of-footprint points
                # CLAMP into guaranteed-miss border cells — no bounds
                # mask; hits are then selected by index gather (one
                # nonzero scan + three small gathers) instead of three
                # full-length boolean-index passes.
                tbl, ix0, iy0, w, h = dense
                s1 = max_res - res
                jx = np.clip((ix64 >> s1) - ix0 + 1, 0, w + 1)
                jy = np.clip((iy64 >> s1) - iy0 + 1, 0, h + 1)
                pos1 = tbl[jy * (w + 2) + jx]
                hm = np.nonzero(pos1)[0]
                if not len(hm):
                    continue
                hit_pts = vi32[hm]
                hp = pos1[hm].astype(np.int64) - 1
            else:
                pc = (np.uint64(res) << np.uint64(58)) | (base_morton >> shift)
                # cheap range prefilter: a probe cell outside the level's
                # [first, last] cell id can't hit — skips the binary
                # search for points far from this level's covered area
                in_range = (pc >= uniq[0]) & (pc <= uniq[-1])
                if not in_range.all():
                    rsel = np.nonzero(in_range)[0]
                    if not len(rsel):
                        continue
                    pc_q, q_pts = pc[rsel], vi32[rsel]
                else:
                    pc_q, q_pts = pc, vi32
                pos = np.searchsorted(uniq, pc_q)
                pos_c = np.minimum(pos, len(uniq) - 1)
                hit = uniq[pos_c] == pc_q
                hit_pts = q_pts[hit]
                if not len(hit_pts):
                    continue
                hp = pos_c[hit]
            starts = offsets[hp]
            counts = offsets[hp + 1] - starts
            pt_idx_parts.append(np.repeat(hit_pts, counts))
            ent_parts.append(ent_ids[_expand(starts, counts)])

    if pt_idx_parts:
        pt_idx = np.concatenate(pt_idx_parts)
        cand_ent = np.concatenate(ent_parts)
    else:
        pt_idx = np.zeros(0, dtype=np.int32)
        cand_ent = np.zeros(0, dtype=np.int32)

    cand_rank = idx.ent_rank[cand_ent] if len(cand_ent) else np.zeros(0, np.int32)
    cand_int = (
        idx.ent_interior[cand_ent] if len(cand_ent) else np.zeros(0, dtype=bool)
    )

    # Boundary candidates: exact inclusive containment against the CELL-
    # LOCAL segments only (the entry carries its segment ids and the even-
    # odd state of the cell center): inside = on-any-local-segment OR
    # center_state XOR parity(crossings of the center→point segment).
    # Cost is O(local segments) per candidate — independent of the zone's
    # total vertex count (north_star boundary-cell design).
    confirmed = cand_int.copy()
    bsel = np.nonzero(~cand_int)[0]
    if stats is not None:
        stats["n_candidates"] = int(len(cand_int))
        stats["n_boundary_candidates"] = int(len(bsel))
    if len(bsel):
        ents_all = cand_ent[bsel]
        k_all = (
            idx.ent_seg_off[ents_all + 1] - idx.ent_seg_off[ents_all]
        ).astype(np.int64)
        # per-candidate point coords + parity-anchor centers, computed
        # once. The anchor is the entry's ORIGINAL covering cell center,
        # precomputed at assembly (index.ent_cx/ent_cy — the identical
        # (lo+hi)/2 doubles this code used to derive from the probed
        # cell id, which level merging re-homes onto finer cells).
        px_all = lons[pt_idx[bsel]]
        py_all = lats[pt_idx[bsel]]
        cx_all = idx.ent_cx[ents_all]
        cy_all = idx.ent_cy[ents_all]
        # chunk the (candidate x local-segment) pair expansion so the
        # temporaries stay cache-resident instead of streaming multi-MB
        # arrays through DRAM (the 8-core ladder step is bandwidth-bound
        # before it is compute-bound)
        PAIR_CHUNK = 1 << 16
        for start, end in _chunks(k_all, PAIR_CHUNK):
            ents = ents_all[start:end]
            k = k_all[start:end]
            rep_pair = np.repeat(np.arange(end - start), k)
            # a segment is the coords row pair (pos, pos + 1)
            pos = idx.ent_seg_idx[_expand(idx.ent_seg_off[ents], k)]
            # gathered slices upcast to float64 BEFORE any arithmetic:
            # float32 storage is lossless (index.py), so every predicate
            # below is bit-identical to the float64-storage result
            c = idx.coords
            ax = c[pos, 0].astype(np.float64, copy=False)
            ay = c[pos, 1].astype(np.float64, copy=False)
            bx = c[pos + 1, 0].astype(np.float64, copy=False)
            by = c[pos + 1, 1].astype(np.float64, copy=False)
            dx = bx - ax
            dy = by - ay
            thr = geom.ON_EDGE_EPS * np.maximum(np.hypot(dx, dy), 1.0)
            mnx = np.minimum(ax, bx) - geom.ON_EDGE_EPS
            mxx = np.maximum(ax, bx) + geom.ON_EDGE_EPS
            mny = np.minimum(ay, by) - geom.ON_EDGE_EPS
            mxy = np.maximum(ay, by) + geom.ON_EDGE_EPS
            px = px_all[start:end][rep_pair]
            py = py_all[start:end][rep_pair]
            cx = cx_all[start:end][rep_pair]
            cy = cy_all[start:end][rep_pair]

            # on-segment (touches) test — inclusive boundary (Util.kt:12-13)
            cross_prod = dx * (py - ay) - dy * (px - ax)
            colinear = np.abs(cross_prod) <= thr
            inbox = (px >= mnx) & (px <= mxx) & (py >= mny) & (py <= mxy)
            on_seg = colinear & inbox
            # does the center→point segment cross the boundary segment?
            # Orientation tests with the per-segment d1/d2 bases hoisted:
            # d2's orient(a, b, p) IS cross_prod (same expression over
            # the same doubles), d1 reuses dx/dy. Half-open convention
            # (>0 vs <=0 on both tests), so a query segment through a
            # shared polygon vertex counts once, not twice
            d1 = dx * (cy - ay) - dy * (cx - ax) > 0
            d2 = cross_prod > 0
            d3 = (px - cx) * (ay - cy) - (py - cy) * (ax - cx) > 0
            d4 = (px - cx) * (by - cy) - (py - cy) * (bx - cx) > 0
            crossing = (d1 != d2) & (d3 != d4)

            # candidates are contiguous runs -> reduceat (boolean ops,
            # no float-weighted bincount pass). Every run is non-empty:
            # cover_piece emits a boundary cell only for an exact
            # (cell, segment) touch, so each boundary entry carries at
            # least one local segment (test_boundary_entries_carry_segments)
            starts_r = (np.cumsum(k) - k).astype(np.int64)
            on_any = np.logical_or.reduceat(on_seg, starts_r)
            parity = np.logical_xor.reduceat(crossing, starts_r)
            confirmed[bsel[start:end]] = on_any | (
                idx.ent_center[ents] ^ parity
            )

    pt_idx = pt_idx[confirmed]
    cand_rank = cand_rank[confirmed]

    # assemble CSR sorted by (point, rank) — rank order IS area order.
    # Single combined-key argsort (point<<32 | rank) instead of a two-key
    # lexsort: (point, rank) pairs are unique (a piece's covering cells
    # are disjoint, so each piece appears at most once per point), and one
    # int64 introsort is ~2x the speed of lexsort's two stable passes.
    key = (pt_idx.astype(np.int64) << np.int64(32)) | cand_rank.astype(
        np.int64
    )
    order = np.argsort(key)
    pt_idx, cand_rank = pt_idx[order], cand_rank[order]
    counts = np.bincount(pt_idx, minlength=n)
    offsets_out = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets_out[1:])
    return offsets_out, cand_rank.astype(np.int32), valid


def rank_dtype(idx: CompiledIndex):
    """Narrowest signed integer dtype that holds every piece rank (and
    the -1 sentinel): int16 up to 32767 pieces, int32 beyond (guide
    §2.3 — narrower types halve the Arrow-boundary bytes)."""
    return np.int16 if idx.n_pieces <= np.iinfo(np.int16).max else np.int32


def probe_arrow(
    idx: CompiledIndex,
    lats: np.ndarray,
    lons: np.ndarray,
    mode: str = "strict",
    with_all: bool = True,
):
    """Arrow-native probe result: (valid np.bool_, first_rank
    pa.Int16Array/Int32Array — None when ``with_all=True`` — and ranks
    pa.ListArray<int16|int32> — None when ``with_all=False``, the
    Q1-only fast path that skips the list serialization).

    Round 6 (guide §2.3, VERDICT r5 #5 — shrink bytes/row across the
    Arrow boundary): ranks travel as int16 whenever the piece count
    fits (454-2000 in every bench world).

    No per-row Python anywhere — the Spark assign UDF hands these straight
    back through the Arrow serializer, and the rank→zone-name mapping
    happens JVM-side (element_at over a literal array), so strings never
    cross the Python boundary at all.

    Sentinels instead of Arrow nulls (first_rank=-1, ranks=[]): the
    engine nulls invalid rows JVM-side from the region test it already
    evaluates there, so no null bitmap needs to cross the boundary."""
    offsets, ranks, valid = probe_ranks(idx, lats, lons, mode=mode)
    rdt = rank_dtype(idx)
    if with_all:
        return valid, None, arrow_list(offsets, ranks.astype(rdt))
    n = len(valid)
    counts = np.diff(offsets)
    has_match = (counts > 0) & valid
    if len(ranks):
        first = ranks[np.minimum(offsets[:-1], len(ranks) - 1)]
    else:
        first = np.zeros(n, dtype=ranks.dtype)
    first = np.where(has_match, first, -1).astype(rdt)
    return valid, arrow_array(first), None


# Arrow <-> numpy without pandas: pa.array(ndarray) and Array.to_numpy()
# both import pandas (~40 MB and ~0.3 s per Python worker), so the UDF
# bodies read and write the Arrow buffers directly.


def arrow_f64(arr) -> np.ndarray:
    """A pa.Array of doubles as float64 numpy, NULL -> NaN, read from its
    buffers (a zero-copy read-only view when there are no NULLs)."""
    import pyarrow as pa

    if arr.type != pa.float64():
        arr = arr.cast(pa.float64())
    n = len(arr)
    if n == 0:
        return np.empty(0)
    validity, data = arr.buffers()
    vals = np.frombuffer(data, np.float64, count=n, offset=arr.offset * 8)
    if arr.null_count:
        bits = np.unpackbits(
            np.frombuffer(validity, np.uint8), count=arr.offset + n,
            bitorder="little",
        )[arr.offset:]
        vals = np.where(bits.view(bool), vals, np.nan)
    return vals


def arrow_rings(col) -> list[list[np.ndarray]]:
    """A zones ``rings`` column (list<list<struct<lat, lon>>>, sliced or
    not) as each row's rings: (V, 2) float64 (lon, lat) slices of one
    vertex array, read from the Arrow buffers without pandas."""
    r_off, v_off = (
        np.frombuffer(o.buffers()[1], np.int32, len(o), o.offset * 4)
        for o in (col.offsets, col.values.offsets)
    )
    vstruct = col.values.values
    verts = np.column_stack(
        [arrow_f64(vstruct.field(c)) for c in ("lon", "lat")]
    )
    return [
        [verts[v_off[j]:v_off[j + 1]] for j in range(r_off[i], r_off[i + 1])]
        for i in range(len(col))
    ]


def arrow_array(values: np.ndarray):
    """A numeric 1-d ndarray as a pa.Array over the same bytes."""
    import pyarrow as pa

    v = np.ascontiguousarray(values)
    return pa.Array.from_buffers(
        pa.from_numpy_dtype(v.dtype), len(v), [None, pa.py_buffer(v)]
    )


def arrow_list(offsets: np.ndarray, values: np.ndarray):
    """CSR ``offsets`` (n+1) over ``values`` as a pa.ListArray."""
    import pyarrow as pa

    return pa.ListArray.from_arrays(
        arrow_array(offsets.astype(np.int32)), arrow_array(values)
    )


#: "geodesic": WGS84 meters (reference parity, the Vincenty loop the SQL
#: oracle mirrors); "planar_deg": planar degrees
METRICS = ("geodesic", "planar_deg")

# Q5 zone codes below 0; a code >= 0 is a piece rank of the zone
UNKNOWN_ZONE = -1  # a name the index lacks: strict mode raises
NO_ZONE = -2  # NULL zone: NaN, never an error


def zone_ranks(idx: CompiledIndex, zone_names) -> np.ndarray:
    """Zone names -> each zone's first piece rank (array_position over
    the rank->name array, minus 1) in one vectorized lookup; UNKNOWN_ZONE
    for a name the index lacks, NO_ZONE for None/NaN."""
    uniq, first = np.unique(np.asarray(idx.zone_ids, dtype=str),
                            return_index=True)
    q = np.asarray(zone_names, dtype=object).reshape(-1)
    null = np.equal(q, None) | (q != q)  # None, or NaN
    qs = np.where(null, "", q).astype(str)
    out = np.full(len(q), UNKNOWN_ZONE, dtype=np.int64)
    if len(uniq):
        pos = np.minimum(np.searchsorted(uniq, qs), len(uniq) - 1)
        found = uniq[pos] == qs
        out[found] = first[pos[found]]
    out[null] = NO_ZONE
    return out


def _pos_in_run(keys: np.ndarray) -> np.ndarray:
    """Position of each element within its run of equal sorted keys."""
    if not len(keys):
        return np.zeros(0, dtype=np.int64)
    new = np.r_[True, keys[1:] != keys[:-1]]
    return np.arange(len(keys)) - np.nonzero(new)[0][np.cumsum(new) - 1]


def _zone_head(idx: CompiledIndex) -> np.ndarray:
    """Per piece rank, its zone's first rank: the zone as an integer.
    Cached on the index."""
    head = getattr(idx, "_zone_head", None)
    if head is None:
        _, first, inv = np.unique(
            np.asarray(idx.zone_ids, dtype=str), return_index=True,
            return_inverse=True,
        )
        head = first[inv].astype(np.int64)
        object.__setattr__(idx, "_zone_head", head)
    return head


def containing_distances(
    idx: CompiledIndex,
    lats: np.ndarray,
    lons: np.ndarray,
    metric: str = "geodesic",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Q5 for every zone that contains each point (TimeZone.kt:41-47):
    distance to the planar-nearest boundary coordinate of the zone's
    first (smallest-area) containing piece; clip edges count.

    Returns (offsets, heads, dist): offsets int64 (N+1,) — CSR per point;
    heads int64 — each containing zone as its first piece rank (zone-head
    ascending); dist float64. Containment comes from ``probe_ranks`` (a
    point outside the initialized region, NaN or infinite, is in no
    zone), distances from ONE ``_foot_distances`` call (shared with
    kNN); both bit-identical to the per-piece ``oracle`` path.
    ``metric``: "geodesic" (WGS84 meters) or "planar_deg" (degrees)."""
    if metric not in METRICS:
        raise ValueError(f"unknown metric: {metric!r}")
    lats = np.asarray(lats, dtype=np.float64)
    lons = np.asarray(lons, dtype=np.float64)
    n = len(lats)
    offsets, ranks, _valid = probe_ranks(idx, lats, lons, mode="pipeline")
    pair_pt = np.repeat(np.arange(n, dtype=np.int64), np.diff(offsets))
    heads = _zone_head(idx)[ranks]
    # each point's ranks are ascending, so the first pair of each (point,
    # zone) key is the zone's first containing piece
    _, first = np.unique(pair_pt * idx.n_pieces + heads, return_index=True)
    pt = pair_pt[first]
    dist, _ = _foot_distances(idx, lats[pt], lons[pt], ranks[first], metric)
    out_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(pt, minlength=n), out=out_off[1:])
    return out_off, heads[first], dist


def distance_from_boundary_batch(
    idx: CompiledIndex,
    zones,
    lats: np.ndarray,
    lons: np.ndarray,
    mode: str = "strict",
    metric: str = "geodesic",
) -> np.ndarray:
    """Q5 for one requested zone per point: the selection of that zone's
    distance from ``containing_distances``. ``zones``: integer codes (a
    piece rank of the zone, UNKNOWN_ZONE or NO_ZONE) or names (None = no
    zone).

    ``metric="geodesic"`` is the reference semantics (WGS84 meters, the
    fixed-iteration Vincenty the SQL oracle mirrors); ``"planar_deg"``
    is the planar degree distance.
    Rows whose zone does not contain the point: ValueError in strict
    mode (reference message), NaN in pipeline mode."""
    if metric not in METRICS:
        raise ValueError(f"unknown metric: {metric!r}")
    lats = np.asarray(lats, dtype=np.float64)
    n = len(lats)
    want = np.asarray(zones)
    want = (
        want.astype(np.int64) if want.dtype.kind in "iu"
        else zone_ranks(idx, zones)
    )
    named = want >= 0
    want[named] = _zone_head(idx)[want[named]]

    offsets, heads, dist = containing_distances(idx, lats, lons, metric)
    pair_pt = np.repeat(np.arange(n), np.diff(offsets))
    hit = heads == want[pair_pt]  # at most one pair per point
    out = np.full(n, np.nan)
    out[pair_pt[hit]] = dist[hit]
    if mode == "strict" and hit.sum() < np.count_nonzero(want != NO_ZONE):
        raise ValueError("Location must be inside the time zone")
    return out


# Foot-search bucket pruning (round 6): segments of each piece are tiled
# into buckets of FOOT_BUCKET consecutive segments with an exact bbox;
# per (point, piece) pair a cheap upper bound U (exact foot distance to
# ONE representative segment per bucket) prunes every bucket whose
# bbox lower bound exceeds U * FOOT_PRUNE_MARGIN. Every segment of a
# pruned bucket lies inside that bucket's bbox, so its distance is >=
# the bucket bound > U >= d2min — strictly farther, which preserves the
# exact minimum AND the first-minimum tie-break; the 1e-9 relative
# margin dwarfs the ~1e-15 relative rounding of the bound arithmetic,
# so float rounding cannot flip an exclusion.
FOOT_BUCKET = 16
FOOT_PRUNE_MARGIN = 1.0 + 1e-9
# (pair, segment) rows evaluated per chunk of the foot search
FOOT_PAIR_CHUNK = 1 << 19


def _seg_cache(idx: CompiledIndex):
    """Per-index cache of the foot search's segment arrays, one entry
    per segment in ``geom._segments`` order: ``flat`` = float64 segment
    start + the pair-invariant dx/dy/len2 (len2 stays a
    gathered-then-computed EXACT product of the same doubles, so the
    foot's division is bit-identical), and ``buckets`` = the bucket CSR
    per piece with each bucket's segment span and exact bbox."""
    cached = getattr(idx, "_foot_segs", None)
    if cached is not None:
        return cached
    pos = segment_starts(idx.coord_offsets)
    x = idx.coords[:, 0].astype(np.float64)
    y = idx.coords[:, 1].astype(np.float64)
    ax, ay = x.take(pos), y.take(pos)
    bx, by = x.take(pos + 1), y.take(pos + 1)
    dx = bx - ax
    dy = by - ay
    flat = (ax, ay, dx, dy, dx * dx + dy * dy)

    # piece -> segment run (a piece's rows are contiguous)
    so = np.searchsorted(pos, idx.coord_offsets[idx.ring_offsets])
    counts = np.diff(so)
    nb = (counts + FOOT_BUCKET - 1) // FOOT_BUCKET
    pb_off = np.zeros(len(nb) + 1, dtype=np.int64)
    np.cumsum(nb, out=pb_off[1:])
    b_lo = np.repeat(so[:-1], nb) + FOOT_BUCKET * _expand(np.zeros_like(nb), nb)
    b_hi = np.minimum(b_lo + FOOT_BUCKET, np.repeat(so[1:], nb))
    # exact bbox over BOTH endpoints (bucket spans tile the segment
    # array in order, so b_lo is a valid reduceat starts array)
    if len(b_lo):
        bbox = tuple(
            red(red.reduceat(a, b_lo), red.reduceat(b, b_lo))
            for red, a, b in ((np.minimum, ax, bx), (np.maximum, ax, bx),
                              (np.minimum, ay, by), (np.maximum, ay, by))
        )
    else:
        bbox = (np.zeros(0),) * 4
    cached = (flat, (pb_off, b_lo, b_hi) + bbox)
    object.__setattr__(idx, "_foot_segs", cached)
    return cached


def _eval_feet(flat, seg_pos, px, py):
    """Exact foot d² (and foot coords) per (pair, segment) row — the
    single AST every foot in this module evaluates."""
    s_ax, s_ay, s_dx, s_dy, s_len2 = flat
    ax = s_ax[seg_pos]
    ay = s_ay[seg_pos]
    dx = s_dx[seg_pos]
    dy = s_dy[seg_pos]
    len2 = s_len2[seg_pos]
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - ax) * dx + (py - ay) * dy) / len2
    t = np.where(len2 > 0, np.clip(t, 0.0, 1.0), 0.0)
    cx = ax + t * dx
    cy = ay + t * dy
    d2 = (px - cx) ** 2 + (py - cy) ** 2
    return cx, cy, d2


def _nearest_feet_flat(
    idx: CompiledIndex,
    pair_lon: np.ndarray,
    pair_lat: np.ndarray,
    pair_rank: np.ndarray,
):
    """Planar-nearest boundary coordinate of piece ``pair_rank[i]`` for
    point ``(pair_lon[i], pair_lat[i])``, vectorized over ALL pairs via
    the index's flat segment CSR (round 6: replaces one
    oracle.nearest_boundary_point call per piece — 1277 calls of ~90 rows
    each on the kNN bench, whose per-call overhead was ~20% of the
    kernel wall).

    Bit-identical per pair to oracle.nearest_boundary_point: the same
    segments in the same order (``_seg_cache`` reads them in
    geom._segments order; float32 storage is lossless by construction
    and upcast before any arithmetic), the same foot AST, and the same
    FIRST-minimum tie-break (position of the first d² equal to the exact
    segment-run minimum — np.minimum.reduceat performs only comparisons,
    so the run minimum is one of the original floats and the equality
    test is exact). The
    bucket prune (see FOOT_BUCKET; a piece of one bucket has nothing to
    prune) skips segments that are PROVABLY strictly farther than the
    minimum — the evaluated subset always contains every
    minimum-achieving segment, so outputs (incl. the tie-break) are those
    of the full scan; parity with the oracle is pinned by
    test_nearest_feet_bucket_prune_parity.

    Returns (fx, fy, d2min) each (n_pairs,) float64 — d2min is the
    squared planar degree distance (sqrt of it == the planar metric).
    Every piece has at least one segment (``index.assemble_index``
    guarantees it). Non-finite coordinates raise ValueError: a NaN pair
    would otherwise poison the prune bound and yield a wrong d2min."""
    if not (np.isfinite(pair_lon).all() and np.isfinite(pair_lat).all()):
        raise ValueError("nearest-foot search needs finite coordinates")
    n_pairs = len(pair_rank)
    fx = np.empty(n_pairs)
    fy = np.empty(n_pairs)
    d2m = np.empty(n_pairs)
    flat, (pb_off, b_lo, b_hi, mnx, mxx, mny, mxy) = _seg_cache(idx)
    nb = pb_off[pair_rank + 1] - pb_off[pair_rank]
    heads = np.cumsum(nb) - nb
    bk_id = _expand(pb_off[pair_rank], nb)
    # a pair with one bucket keeps it; the others prune theirs
    keep = np.ones(len(bk_id), dtype=bool)
    cut = np.flatnonzero(nb > 1)
    nbc = nb[cut]
    rows = _expand(heads[cut], nbc)
    bid = bk_id[rows]
    bpx = np.repeat(pair_lon[cut], nbc)
    bpy = np.repeat(pair_lat[cut], nbc)
    # upper bound: exact foot d² to one representative segment per
    # bucket (its first) — attainable, so U >= the pair's true min
    _cx, _cy, rep_d2 = _eval_feet(flat, b_lo[bid], bpx, bpy)
    U = np.minimum.reduceat(rep_d2, np.cumsum(nbc) - nbc)
    # lower bound: squared distance to the bucket bbox (every segment
    # lies inside its bucket's bbox)
    ddx = np.maximum(np.maximum(mnx[bid] - bpx, bpx - mxx[bid]), 0.0)
    ddy = np.maximum(np.maximum(mny[bid] - bpy, bpy - mxy[bid]), 0.0)
    keep[rows] = ddx * ddx + ddy * ddy <= np.repeat(U * FOOT_PRUNE_MARGIN, nbc)
    # expand kept buckets to their segments (pair-major, original
    # segment order preserved within each pair)
    seg_counts = np.where(keep, b_hi[bk_id] - b_lo[bk_id], 0)
    seg_pos_all = _expand(b_lo[bk_id], seg_counts)
    k_eval = np.add.reduceat(seg_counts, heads)
    seg_off = np.cumsum(k_eval) - k_eval

    for start, end in _chunks(k_eval, FOOT_PAIR_CHUNK):
        k = k_eval[start:end]
        lo = seg_off[start]
        seg_pos = seg_pos_all[lo:lo + int(k.sum())]
        cx, cy, d2 = _eval_feet(flat, seg_pos,
                                np.repeat(pair_lon[start:end], k),
                                np.repeat(pair_lat[start:end], k))
        run_starts = np.cumsum(k) - k
        dmin = np.minimum.reduceat(d2, run_starts)
        # first position of each run's minimum (every run holds one)
        at_min = np.flatnonzero(d2 == np.repeat(dmin, k))
        first = at_min[np.searchsorted(at_min, run_starts)]
        fx[start:end] = cx[first]
        fy[start:end] = cy[first]
        d2m[start:end] = dmin
    return fx, fy, d2m


def _foot_distances(
    idx: CompiledIndex,
    lats: np.ndarray,
    lons: np.ndarray,
    ranks: np.ndarray,
    metric: str,
    cap=np.inf,
) -> tuple[np.ndarray, int]:
    """The one boundary-distance kernel of Q5 and kNN: distance from
    point i to the planar-nearest boundary coordinate of piece
    ``ranks[i]`` (TimeZone.kt:46 — the foot is planar whatever the
    metric): sqrt(d2min) for ``planar_deg``, else ONE batched Vincenty
    call (its trig loop has a large fixed cost per call).

    ``cap`` (geodesic, kNN's prescreen): a pair whose guaranteed lower
    bound R_GEO_LB * haversine angle exceeds ``cap[i]`` is not evaluated
    and stays +inf. Returns (dist, exact evaluations run)."""
    fx, fy, d2 = _nearest_feet_flat(idx, lons, lats, ranks)
    if metric == "planar_deg":
        return np.sqrt(d2), len(d2)
    need = geom.R_GEO_LB * geom._haversine_angle(lats, lons, fy, fx) <= cap
    dist = np.full(len(d2), np.inf)
    if need.any():
        dist[need] = geom.geodesic_distance_wgs84(
            lats[need], lons[need], fy[need], fx[need]
        )
    return dist, int(need.sum())




# --- kNN: compile-time candidate lists, one exact pass ------------------------

#: The k the compile-time candidate lists serve (a smaller k reads the
#: same lists): the largest k any caller asks for. A larger k, or a point
#: outside the list grid, cuts its own list from every piece.
KNN_MAX_K = 3
# list grid size: cells per piece, capped (a tiny world gets a tiny grid)
KNN_CELLS_PER_PIECE = 36
KNN_MAX_CELLS = 1 << 14
# relative slack on every bound the lists rest on: dwarfs float rounding
# and Vincenty's ~0.5 mm error at any distance a list can reach
KNN_BOUND_MARGIN = 1.0 + 1e-6
# absolute slack (degrees) on every list radius, even a point's own: the
# containment test admits points up to ON_EDGE_EPS * segment length
# (< 4e-10 degrees) outside a piece, and floor() may put a point a
# rounding outside its cell
KNN_PAD_DEG = 1e-9
# (point, piece) pairs per exact pass, so the kernel's memory is bounded
# whatever the batch, k or world
KNN_PAIR_CHUNK = 1 << 16


def _in_sorted(sorted_keys: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """Membership of each of ``keys`` in the sorted ``sorted_keys``."""
    pos = np.searchsorted(sorted_keys, keys)
    ok = pos < len(sorted_keys)
    res = np.zeros(len(keys), dtype=bool)
    res[ok] = sorted_keys[pos[ok]] == keys[ok]
    return res


def _contained_keys(idx: CompiledIndex, lats, lons) -> np.ndarray:
    """Sorted ``point * n_pieces + rank`` of every (point, containing
    piece) pair, from one ``probe_ranks`` call."""
    off, ranks, _valid = probe_ranks(idx, lats, lons, mode="pipeline")
    keys = np.repeat(np.arange(len(lats), dtype=np.int64), np.diff(off))
    keys = keys * idx.n_pieces + ranks
    keys.sort()
    return keys


def _corner_bound(cx, cy, bb: np.ndarray) -> np.ndarray:
    """Upper bound on the planar distance from (cx, cy) to a piece: every
    edge of the piece's exact bbox holds one of its vertices, so the
    piece is within the nearer of the edges' farther corners."""
    dxl, dxh = (cx - bb[:, 0]) ** 2, (cx - bb[:, 2]) ** 2
    dyl, dyh = (cy - bb[:, 1]) ** 2, (cy - bb[:, 3]) ** 2
    ll, lh, hl, hh = dxl + dyl, dxl + dyh, dxh + dyl, dxh + dyh
    return np.sqrt(np.minimum(
        np.minimum(np.maximum(ll, lh), np.maximum(hl, hh)),
        np.minimum(np.maximum(ll, hl), np.maximum(lh, hh)),
    ))


def _zone_kth(starts, run_of, val, zone, k: int) -> np.ndarray:
    """Per run of pairs (non-empty runs at ``starts``; ``run_of`` is each
    pair's run): the k-th smallest over distinct zones of each zone's
    smallest ``val``, +inf for a run with fewer than k zones. Each pass
    takes the run minimum and masks that minimum's zone."""
    v = val.copy()
    n = len(v)
    pos = np.arange(n)
    for _ in range(k - 1):
        m = np.minimum.reduceat(v, starts)
        first = np.minimum.reduceat(np.where(v == m[run_of], pos, n), starts)
        v[zone == zone[np.minimum(first, n - 1)][run_of]] = np.inf
    return np.minimum.reduceat(v, starts)


def _root_list(n_pieces: int):
    """The list descent's root: one cell holding every piece, no feet."""
    nan = np.full(n_pieces, np.nan)
    return np.array([0, n_pieces]), np.arange(n_pieces), (nan, nan)


def knn_cell_lists(idx: CompiledIndex):
    """The kNN candidate lists ``index.assemble_index`` stores on the
    index: (grid, offsets, ranks, bound). ``grid`` float64 (lon0, lat0,
    step, nx, ny) lays square cells over the pieces' bbox union, row-major
    (cell = iy * nx + ix, ix = floor((lon - lon0) / step)); ``offsets``
    int32 (nx*ny + 1,) and ``ranks`` (``rank_dtype``) are the CSR of each
    cell's piece ranks, ascending; ``bound`` float64 (nx*ny,) bounds, in
    planar degrees, the KNN_MAX_K-th nearest zone distance of any point of
    the cell.

    Why a list holds every piece a point of its cell can need. Let D_Z(p)
    be the planar distance from p to zone Z's filled pieces (0 inside).
    D_Z is 1-Lipschitz. Z's kNN distance at p is at most D_Z(p) planar,
    and at most M * D_Z(p) geodesic (M = geom.M_PER_DEG_MAX): it is
    measured to a point of Z's boundary, even though the planar-nearest
    foot (TimeZone.kt:46) makes it no metric distance-to-set. With U an
    upper bound on D_(k)(c), the k-th smallest D_Z at the cell centre c,
    and r the centre-to-corner distance (padded by KNN_PAD_DEG), every
    point of the cell has k zones within
    U + r degrees and M * (U + r) meters: ``bound`` = U + r. By the
    geodesic triangle inequality a piece is at least lb(c, bbox) - M * r
    away from any such point (lb = geom.bbox_geodesic_lower_bound), so the
    list keeps each piece with lb(c, bbox) <= M * (U + 2r). lb is at most
    M times the planar bbox distance, so the list also holds every piece
    the planar metric can need: one list serves both metrics.

    U comes from a quadtree descent from one root cell holding every
    piece; each level refines its parent cell's list (``_refine_lists``).
    Per (cell, piece) pair an upper bound on the piece's planar distance
    is 0 when the engine's containment puts the centre in the piece, else
    the least of ``_corner_bound``, the distance to the nearest boundary
    point found for the parent cell, and, on every level but the finest,
    the exact foot distance of each pair that could still set the k-th
    zone. U is the k-th zone of those bounds, or the parent's U plus the
    centre offset if smaller. Cells and pairs stay few: about 0.2 s on
    one core for the 454-piece world's 16k cells, 5.2 pieces a list."""
    n_pieces = idx.n_pieces
    if not n_pieces:
        return (np.zeros(5), np.zeros(1, dtype=np.int32),
                np.zeros(0, dtype=rank_dtype(idx)), np.zeros(0))
    # the kernels below cache derived arrays on the index they are given:
    # a throwaway copy keeps those out of the broadcast pickle
    work = dataclasses.replace(idx)
    bb = idx.piece_bbox
    lon0, lat0 = float(bb[:, 0].min()), float(bb[:, 1].min())
    w = float(bb[:, 2].max()) - lon0
    h = float(bb[:, 3].max()) - lat0
    n_cells = min(KNN_MAX_CELLS, KNN_CELLS_PER_PIECE * n_pieces)
    step = max(math.sqrt(w * h / n_cells), max(w, h) / n_cells, 1e-9)
    nx, ny = max(1, math.ceil(w / step)), max(1, math.ceil(h / step))

    off, ranks, feet = _root_list(n_pieces)
    U = np.array([np.inf])
    parent_w = 1
    for lvl in reversed(range(max(1, math.ceil(math.log2(max(nx, ny)))))):
        s = step * 2**lvl
        gw, gh = -(-nx >> lvl), -(-ny >> lvl)
        iy, ix = np.divmod(np.arange(gw * gh), gw)
        r = s * math.sqrt(0.5) * KNN_BOUND_MARGIN + KNN_PAD_DEG
        parent = (iy >> 1) * parent_w + (ix >> 1)
        # a child centre is r (unpadded) from its parent's, and D_(k) is
        # 1-Lipschitz
        # a centre past a pole is no point of the ellipsoid: clamping it
        # keeps every point of the cell (lat <= 90) within r of it, and
        # child centres within r of their parent's
        cy = np.clip(lat0 + (iy + 0.5) * s, -90.0, 90.0)
        off, ranks, feet, U = _refine_lists(
            work, KNN_MAX_K, lon0 + (ix + 0.5) * s, cy, r,
            parent, off, ranks, feet, U[parent] + r, exact=lvl > 0,
        )
        parent_w = gw
    grid = np.array([lon0, lat0, step, nx, ny], dtype=np.float64)
    return grid, off.astype(np.int32), ranks.astype(rank_dtype(idx)), U + r


def _refine_lists(idx, k, cx, cy, r, parent, off, ranks, feet, U, exact):
    """One step of the list descent: each cell (centre ``cx``, ``cy``,
    padded centre-to-corner distance ``r``; for a point just the pad)
    keeps the pieces of its ``parent`` list (``ranks[off[p]:off[p+1]]``)
    that its points can need among their k nearest zones (see
    ``knn_cell_lists``). ``feet``: the parent list's nearest boundary
    points (NaN where not computed), which bound the pairs' distances at
    no cost. ``U``: an upper bound per cell on D_(k) at its centre, which
    the pairs' bounds then tighten. ``exact``: also bound by its exact
    foot distance each pair that could set the k-th zone. Returns the
    cells' CSR (offsets, ranks, feet) and U."""
    n = len(cx)
    cnt = np.diff(off)[parent]
    run0 = np.cumsum(cnt) - cnt
    pc = np.repeat(np.arange(n), cnt)
    src = _expand(off[parent], cnt)
    pr, fx, fy = ranks[src], feet[0][src], feet[1][src]
    pb = idx.piece_bbox[pr]
    pcx, pcy = cx[pc], cy[pc]
    plb = geom.bbox_planar_lower_bound(pcy, pcx, pb)
    inside = _in_sorted(_contained_keys(idx, cy, cx), pc * idx.n_pieces + pr)
    ub = np.where(inside, 0.0, np.fmin(
        _corner_bound(pcx, pcy, pb), np.hypot(pcx - fx, pcy - fy)
    ))
    heads = _zone_head(idx)
    zone = heads[pr]
    nonempty = np.nonzero(cnt)[0]
    run_of = np.repeat(np.arange(len(nonempty)), cnt[nonempty])

    def kth(v):
        out = np.full(n, np.inf)
        if k <= len(np.unique(heads)):  # else no cell has k zones
            out[nonempty] = _zone_kth(run0[nonempty], run_of, v, zone, k)
        return out

    U = np.minimum(U, kth(ub))
    if exact:
        ev = np.nonzero(~inside & (plb <= U[pc]))[0]
        if len(ev):
            fx[ev], fy[ev], d2 = _nearest_feet_flat(
                idx, pcx[ev], pcy[ev], pr[ev]
            )
            ub[ev] = np.minimum(ub[ev], np.sqrt(d2))
            U = np.minimum(U, kth(ub))
    # keep = lb(c, bbox) <= T, with lb computed only where the two cheap
    # bounds around it (M * planar above, latitude-only below) leave the
    # answer open
    T = (geom.M_PER_DEG_MAX * KNN_BOUND_MARGIN * (U + 2 * r))[pc]
    keep = geom.M_PER_DEG_MAX * plb <= T
    dlat = np.maximum(np.maximum(pb[:, 1] - pcy, pcy - pb[:, 3]), 0.0)
    open_ = np.nonzero(~keep & (geom.R_GEO_LB * np.radians(dlat) <= T))[0]
    keep[open_] = geom.bbox_geodesic_lower_bound(
        pcy[open_], pcx[open_], pb[open_]
    ) <= T[open_]
    off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(pc[keep], minlength=n), out=off[1:])
    return off, pr[keep], (fx[keep], fy[keep]), U


def _knn_top(pt, dist, rank, zone, n_pieces: int, k: int):
    """Per point, its k nearest zones as (point, rank) rows, point-major
    and nearest first: each zone at its (distance, rank)-smallest piece,
    zones in (distance, rank) order."""
    key = pt * n_pieces + zone[rank]
    o = np.argsort(key)
    key, pt, dist, rank = key[o], pt[o], dist[o], rank[o]
    new = np.r_[True, key[1:] != key[:-1]]
    starts = np.nonzero(new)[0]
    best_d = np.minimum.reduceat(dist, starts)
    is_min = dist == best_d[np.cumsum(new) - 1]
    best_r = np.minimum.reduceat(
        np.where(is_min, rank, np.iinfo(np.int64).max), starts
    )
    best_p = pt[starts]
    o = np.lexsort((best_r, best_d, best_p))
    best_p, best_r = best_p[o], best_r[o]
    in_k = _pos_in_run(best_p) < k
    return best_p[in_k], best_r[in_k]


def knn_zones_batch(
    idx: CompiledIndex,
    lats: np.ndarray,
    lons: np.ndarray,
    k: int,
    return_stats: bool = False,
    metric: str = "geodesic",
):
    """kNN fallback ordering (north_star): zones ordered by boundary
    distance; pieces containing the point have distance 0 and tie-break by
    area rank, so for covered points the head of the list agrees with
    getOverlappingTimeZones. Dedupes zone ids (nearest piece wins).

    Returns a pa.ListArray<int16|int32> (``rank_dtype``): per point, the
    nearest piece rank of each of its k nearest zones, nearest first —
    ``idx.zone_ids[rank]`` names the zone (the engine maps ranks to names
    JVM-side, so no string crosses the Arrow boundary). A point with a
    NaN or infinite coordinate gets an empty list.

    One exact pass over a short candidate list that holds every piece
    that can be among the point's k nearest zones: its grid cell's list
    (``knn_cell_lists``, built at compile time for k up to KNN_MAX_K).
    A point outside the grid, or any point when k is above KNN_MAX_K,
    gets its own list instead: the same refinement step the compile
    runs, from every piece's bbox bounds at the point itself, in chunks
    of KNN_PAIR_CHUNK (point, piece) pairs. Containment comes from one
    ``probe_ranks`` call, the distance of every other candidate from
    ``_foot_distances`` — the kernel Q5 uses. The list's k-th zone bound
    caps both: a candidate whose bbox lower bound is past it is never
    evaluated, and (geodesic) one whose foot is past it skips Vincenty;
    either keeps +inf, which cannot reach the top k. The exact pass runs
    in chunks of at most KNN_PAIR_CHUNK pairs (or one point's list), so
    memory is bounded and no (points x pieces) matrix is built.
    ``return_stats=True`` also returns the number of EXACT distance
    evaluations (containment hits plus distances run; prescreened pairs
    are not counted).

    ``metric``: "geodesic" (WGS84 meters, reference parity — DEFAULT,
    the fixed-iteration Vincenty the recursive-CTE SQL oracle mirrors)
    or "planar_deg" (planar degrees; the same kernel the bit-exact
    distance_boundary_planar oracle mirrors, which makes the kNN ORDER
    value-verifiable by a SQL oracle)."""
    if metric not in METRICS:
        raise ValueError(f"unknown metric: {metric!r}")
    lats = np.asarray(lats, dtype=np.float64)
    lons = np.asarray(lons, dtype=np.float64)
    n = len(lats)
    n_pieces = idx.n_pieces
    finite = np.isfinite(lats) & np.isfinite(lons)
    # zeros keep the arithmetic of a non-finite point (no candidates) quiet
    lats = np.where(finite, lats, 0.0)
    lons = np.where(finite, lons, 0.0)

    if not n_pieces:
        out = arrow_list(np.zeros(n + 1, np.int32), np.zeros(0, rank_dtype(idx)))
        return (out, 0) if return_stats else out

    # candidate list per point: its grid cell's, else (outside the grid,
    # or k above KNN_MAX_K) its own, cut from every piece. Outside the
    # grid, D_(k) at a point is at most the nearest cell's bound plus the
    # distance to that cell's centre (D_(k) is 1-Lipschitz)
    lon0, lat0, step, nx, ny = idx.knn_grid  # see knn_cell_lists
    ix = np.clip(np.floor((lons - lon0) / step), 0, nx - 1)
    iy = np.clip(np.floor((lats - lat0) / step), 0, ny - 1)
    off_x = lons - (lon0 + (ix + 0.5) * step)
    off_y = lats - (lat0 + (iy + 0.5) * step)
    cell = (iy * nx + ix).astype(np.int64)
    u_own = np.where(k <= KNN_MAX_K,
                     idx.knn_bound[cell] + np.hypot(off_x, off_y), np.inf)
    own = finite & (
        (k > KNN_MAX_K)
        | (np.abs(off_x) > 0.5 * step) | (np.abs(off_y) > 0.5 * step)
    )
    own = np.nonzero(own)[0]
    starts = [idx.knn_off[:-1].astype(np.int64)]
    counts = [np.diff(idx.knn_off).astype(np.int64)]
    lists = [idx.knn_rank.astype(np.int64)]
    bounds = [idx.knn_bound]
    for s0, s1 in _chunks(np.full(len(own), n_pieces), KNN_PAIR_CHUNK):
        pts = own[s0:s1]
        o, rk, _, U = _refine_lists(
            idx, k, lons[pts], lats[pts], KNN_PAD_DEG,
            np.zeros(len(pts), np.int64),
            *_root_list(n_pieces), u_own[pts], exact=False,
        )
        starts.append(sum(len(x) for x in lists) + o[:-1])
        counts.append(np.diff(o))
        lists.append(rk)
        bounds.append(U + KNN_PAD_DEG)
    cell[own] = len(idx.knn_bound) + np.arange(len(own))
    starts, counts, lists, bounds = (
        np.concatenate(x) for x in (starts, counts, lists, bounds)
    )
    if metric == "geodesic":
        cap = geom.M_PER_DEG_MAX * KNN_BOUND_MARGIN * bounds
        bbox_bound = geom.bbox_geodesic_lower_bound
    else:
        cap = KNN_BOUND_MARGIN * bounds
        bbox_bound = geom.bbox_planar_lower_bound
    count = np.where(finite, counts[cell], 0)

    contain = _contained_keys(idx, lats, lons)
    zone = _zone_head(idx)
    top_pt, top_rank = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    n_eval = 0
    for start, end in _chunks(count, KNN_PAIR_CHUNK):
        c = count[start:end]
        if c.any():
            pt = np.repeat(np.arange(start, end), c)
            rank = lists[_expand(starts[cell[start:end]], c)]
            inside = _in_sorted(contain, pt * n_pieces + rank)
            dist = np.where(inside, 0.0, np.inf)
            n_eval += int(inside.sum())
            # a pair whose bbox is already past its list's bound cannot
            # be among the k nearest: it keeps +inf, like a capped pair
            out = np.nonzero(~inside)[0]
            o_pt = pt[out]
            out = out[bbox_bound(lats[o_pt], lons[o_pt],
                                 idx.piece_bbox[rank[out]]) <= cap[cell[o_pt]]]
            if len(out):
                o_pt = pt[out]
                dist[out], n_exact = _foot_distances(
                    idx, lats[o_pt], lons[o_pt], rank[out], metric,
                    cap=cap[cell[o_pt]],
                )
                n_eval += n_exact
            p, r = _knn_top(pt, dist, rank, zone, n_pieces, k)
            top_pt.append(p)
            top_rank.append(r)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(np.bincount(np.concatenate(top_pt), minlength=n), out=offsets[1:])
    out = arrow_list(offsets, np.concatenate(top_rank).astype(rank_dtype(idx)))
    return (out, n_eval) if return_stats else out
