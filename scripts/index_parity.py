"""Fingerprint the compiled index and the distance kernels of a checkout.

Prints one SHA-256 per line for:
- every ``CompiledIndex`` field but the kNN candidate lists of the synth
  (whole world and a clipped region), big454 and 1M-vertex huge worlds
  (lines ``index``), and the list fields ``knn_*`` on their own (lines
  ``lists``);
- the same for the synth, synth_clip and big454 indexes built from a
  zones DataFrame (``zones.pieces_to_df`` into ``TzEngine.for_region``,
  lines ``df``) and for a big454 ``save_artifact``/``from_artifact``
  round trip (line ``art``) — each must equal its ``index`` and
  ``lists`` lines;
- ``knn_zones_batch`` rank lists for k = 1..4 (the exact-evaluation count
  is printed beside the digest, not hashed), and ``containing_distances``
  offsets, heads and distances, on 20k seeded big454 points (NaN, +-inf
  and +-90 rows included; 2k points for k = 4) for each metric, and kNN
  (k = 3) on 4k huge-world points;
- the boundary pass on each world (lines ``assign``): ``probe_ranks``
  (pipeline mode) offsets, ranks and ``valid``, and the
  ``probe_arrow(with_all=False)`` first ranks, on 20k seeded points over
  the pieces' bbox union padded by a tenth (out-of-region rows for the
  clipped region), 2k exact piece vertices, and NaN, +-inf, +-90/+-180
  rows and rows one ulp past them;
- ``tiling.raster_mask_for_rings`` per piece, sorted by cell id (lines
  ``raster``): synth at res 7 and 9, big454 at res 8, and three
  rectangles whose low lon and/or lat edge lies on a res-9 grid line
  that is not a grid line at their base resolution, at res 9.

Run it on two checkouts and diff the output: identical lines mean a
refactor left compile and kernel output bit-identical. Run it from a
directory outside both checkouts (the working directory shadows the
``--repo`` path on ``sys.path``; Spark executors import the same
checkout). The ``df`` and ``art`` lines start a ``local[2]`` Spark
session:

    cd /tmp && python /path/to/scripts/index_parity.py --repo /path/to/checkout
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import sys
import tempfile
import time

import numpy as np


def _feed(h, v) -> None:
    if isinstance(v, np.ndarray):
        h.update(f"{v.dtype.str}{v.shape}".encode())
        h.update(np.ascontiguousarray(v).tobytes())
    elif isinstance(v, dict):
        for k in sorted(v):
            h.update(repr(k).encode())
            _feed(h, v[k])
    elif isinstance(v, (list, tuple)):
        h.update(f"{type(v).__name__}{len(v)}".encode())
        for x in v:
            _feed(h, x)
    else:
        h.update(repr(v).encode())


def digest(*values) -> str:
    h = hashlib.sha256()
    for v in values:
        _feed(h, v)
    return h.hexdigest()[:16]


def assign_points(idx, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (lats, lons) for the ``assign`` lines of one index."""
    rng = np.random.default_rng(seed)
    bb = idx.piece_bbox
    lo = bb[:, :2].min(axis=0).astype(np.float64)
    hi = bb[:, 2:].max(axis=0).astype(np.float64)
    pad = (hi - lo) / 10
    lons = rng.uniform(lo[0] - pad[0], hi[0] + pad[0], 20_000)
    lats = rng.uniform(lo[1] - pad[1], hi[1] + pad[1], 20_000)
    vv = idx.verts[rng.integers(0, len(idx.verts), 2_000)].astype(np.float64)
    past90, past180 = np.nextafter(90.0, 91.0), np.nextafter(180.0, 181.0)
    special_lats = [np.nan, 0.0, np.inf, -np.inf, 0.0, 0.0, 90.0, -90.0,
                    90.0, -90.0, past90, -past90, 0.0, 0.0]
    special_lons = [0.0, np.nan, 0.0, 0.0, np.inf, -np.inf, 180.0, -180.0,
                    -180.0, 180.0, 0.0, 0.0, past180, -past180]
    return (np.r_[special_lats, vv[:, 1], lats],
            np.r_[special_lons, vv[:, 0], lons])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repo", required=True, help="checkout to fingerprint")
    args = ap.parse_args()
    sys.path.insert(0, args.repo)
    from tzengine import bigworld, engine, index, probe, session, tiling, zones

    worlds = {
        "synth": (zones.synthetic_world(), (-90, -180, 90, 180)),
        "synth_clip": (zones.synthetic_world(), (1.5, 2.5, 8.5, 7.5)),
        "big454": (bigworld.big_world(), (-90, -180, 90, 180)),
        "huge": (bigworld.huge_world(), (-90, -180, 90, 180)),
    }

    def index_digest(idx) -> str:
        return digest(*(getattr(idx, f.name) for f in dataclasses.fields(idx)
                        if not f.name.startswith("knn_")))

    def lists_line(kind: str, name: str, idx) -> None:
        lists = [getattr(idx, f.name) for f in dataclasses.fields(idx)
                 if f.name.startswith("knn_")]
        if lists:
            print(f"lists {name:10s} {digest(*lists)}  ({kind})")

    built = {}
    for name, (pieces, region) in worlds.items():
        t0 = time.perf_counter()
        idx = index.compile_index(pieces, *region, world_version=name)
        dt = time.perf_counter() - t0
        print(f"index {name:10s} {index_digest(idx)}  "
              f"({idx.n_pieces} pieces, compile {dt:.2f} s, "
              f"{idx.nbytes()} bytes)")
        lists_line("index", name, idx)
        built[name] = idx

    for seed, (name, idx) in enumerate(built.items()):
        lats, lons = assign_points(idx, seed)
        t0 = time.perf_counter()
        off, ranks, valid = probe.probe_ranks(idx, lats, lons, mode="pipeline")
        _, first, _ = probe.probe_arrow(idx, lats, lons, mode="pipeline",
                                        with_all=False)
        dt = time.perf_counter() - t0
        print(f"assign {name:10s} {digest(off, ranks, valid, np.asarray(first))}"
              f"  ({int(valid.sum())} valid, {len(ranks)} pairs, {dt:.2f} s)")

    edge = 5 * 180 / 512  # a res-9 grid line, not one at res 5
    rects = [
        [np.array([[x0, y0], [x0, 4.4], [3.3, 4.4], [3.3, y0]])]
        for x0, y0 in ((0.703125, 1.1), (1.1, edge), (0.703125, edge))
    ]
    synth = [p.rings for p in worlds["synth"][0]]
    big454 = [p.rings for p in worlds["big454"][0]]
    for name, rings_list, res in (
        ("synth", synth, 7), ("synth", synth, 9), ("big454", big454, 8),
        ("rects", rects, 9),
    ):
        t0 = time.perf_counter()
        out = []
        for rings in rings_list:
            ids, kinds = tiling.raster_mask_for_rings(rings, res)
            o = np.argsort(ids, kind="stable")
            out += [ids[o], kinds[o]]
        dt = time.perf_counter() - t0
        print(f"raster {name + '@' + str(res):10s} {digest(*out)}"
              f"  ({sum(map(len, out[::2]))} cells, {dt:.2f} s)")

    spark = session.get_spark("index_parity", master="local[2]")
    for name in ("synth", "synth_clip", "big454"):
        pieces, region = worlds[name]
        zdf = zones.pieces_to_df(spark, pieces)
        t0 = time.perf_counter()
        eng = engine.TzEngine.for_region(spark, zdf, *region, world_version=name)
        dt = time.perf_counter() - t0
        print(f"df    {name:10s} {index_digest(eng.idx)}  (compile {dt:.2f} s)")
        lists_line("df", name, eng.idx)
    with tempfile.TemporaryDirectory() as tmp:
        eng.save_artifact(tmp)
        t0 = time.perf_counter()
        art = engine.TzEngine.from_artifact(spark, tmp)
        dt = time.perf_counter() - t0
        print(f"art   big454     {index_digest(art.idx)}  (reload {dt:.2f} s)")
        lists_line("art", "big454", art.idx)
    spark.stop()

    rng = np.random.default_rng(20_000)
    lats = rng.uniform(-70, 70, 20_000)
    lons = rng.uniform(-70, 70, 20_000)
    lats[:6] = [np.nan, 0.0, np.inf, -np.inf, 90.0, -90.0]
    lons[:6] = [0.0, np.nan, 0.0, 0.0, 10.0, -10.0]
    big = built["big454"]
    for metric in ("geodesic", "planar_deg"):
        for k in (1, 2, 3, 4):
            n = 20_000 if k <= 3 else 2_000
            t0 = time.perf_counter()
            ranks, n_eval = probe.knn_zones_batch(
                big, lats[:n], lons[:n], k, return_stats=True, metric=metric
            )
            dt = time.perf_counter() - t0
            print(f"knn{k}  {metric:10s} "
                  f"{digest(np.asarray(ranks.offsets), np.asarray(ranks.values))}"
                  f"  (n_eval {n_eval}, {dt:.2f} s)")
        q5 = probe.containing_distances(big, lats, lons, metric)
        print(f"q5    {metric:10s} {digest(*q5)}")
    for metric in ("geodesic", "planar_deg"):
        ranks, n_eval = probe.knn_zones_batch(
            built["huge"], lats[:4000], lons[:4000], 3, return_stats=True,
            metric=metric,
        )
        print(f"hknn3 {metric:10s} "
              f"{digest(np.asarray(ranks.offsets), np.asarray(ranks.values))}"
              f"  (n_eval {n_eval})")


if __name__ == "__main__":
    main()
