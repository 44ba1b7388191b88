"""Seeded inputs and zone worlds for the tzengine benchmark.

Everything a workload feeds the program is generated here from the
workload seed; nothing is read from the repository's test fixtures or
from ``bench.py``, so changes to those files cannot move the benchmark.
The zone worlds come from ``tzengine.zones`` / ``tzengine.bigworld`` and
are pinned by a fingerprint (piece count, vertex count, vertex hash)
recorded in ``workloads.json``: a world generator that changes makes the
run fail instead of silently measuring different work.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# geo_images row layout: payload and caption columns stay JVM-side, only
# lat/lon cross into the probe
GEO_IMAGES_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
        ("lat", pa.float64()),
        ("lon", pa.float64()),
    ]
)


def load_world(name: str) -> list:
    """The zone pieces of a named world."""
    if name == "synth":
        from tzengine import zones

        return zones.synthetic_world()
    from tzengine import bigworld

    if name == "big":
        return bigworld.big_world()
    if name == "huge":
        return bigworld.huge_world()
    raise ValueError(f"unknown world: {name!r}")


def fingerprint(pieces: list) -> dict:
    """Piece count, vertex count and a hash over zone ids and float64
    (lon, lat) vertices in piece order."""
    h = hashlib.sha256()
    n_verts = 0
    for p in pieces:
        h.update(f"{p.zone_id}|{p.polygon_id}|{p.ordinal}|".encode())
        for ring in p.rings:
            arr = np.ascontiguousarray(ring, dtype="<f8")
            h.update(arr.tobytes())
            n_verts += len(arr)
    return {
        "pieces": len(pieces),
        "vertices": n_verts,
        "vertex_sha256": h.hexdigest()[:16],
    }


def check_fingerprint(name: str, pieces: list, expected: dict) -> dict:
    got = fingerprint(pieces)
    if got != expected:
        raise RuntimeError(
            f"world {name!r} fingerprint {got} differs from the recorded "
            f"{expected}: the world generator changed"
        )
    return got


def world_geojsonl(name: str, pieces: list, cache_dir: str) -> str:
    """The world as GeoJSONL, written once per checkout (the file is a
    pure function of the fingerprinted pieces)."""
    from tzengine import geojson

    fp = fingerprint(pieces)
    path = os.path.join(cache_dir, f"{name}-{fp['vertex_sha256']}.jsonl")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        geojson.world_to_geojson(pieces, path + ".tmp", jsonl=True)
        os.replace(path + ".tmp", path)
    return path


def _write(table: pa.Table, path: str, files: int) -> None:
    """One Parquet file per scan task, so every core gets an equal split."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:03d}.parquet"),
            compression="zstd",
        )


def uniform_points(seed: int, n: int, lo: float, hi: float) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    return pa.table(
        {"lat": rng.uniform(lo, hi, n), "lon": rng.uniform(lo, hi, n)}
    )


def geo_images(seed: int, n: int, payload_min: int, payload_max: int,
               null_frac: float, outside_frac: float) -> tuple[pa.Table, int]:
    """Wide rows with random (incompressible) payloads; ``null_frac`` of
    rows carry NULL coordinates and ``outside_frac`` lie outside the
    engine's region. Returns the table and the number of dirty rows."""
    rng = np.random.default_rng([seed, 2])
    sizes = rng.integers(payload_min, payload_max + 1, n)
    blob = rng.bytes(int(sizes.sum()))
    offs = np.concatenate([[0], np.cumsum(sizes)]).astype(np.int32)
    payload = pa.BinaryArray.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(blob)]
    )
    lat = rng.uniform(0.0, 10.0, n)
    lon = rng.uniform(0.0, 10.0, n)
    dirty = rng.permutation(n)
    n_null = int(n * null_frac)
    n_out = int(n * outside_frac)
    lat[dirty[n_null:n_null + n_out]] = 95.0  # beyond the poles
    coord_valid = np.ones(n, dtype=bool)
    coord_valid[dirty[:n_null]] = False
    ids = np.arange(n)
    table = pa.table(
        {
            "image_id": pa.array([f"img{seed:04d}-{i:08d}" for i in ids]),
            "bytes": payload,
            "w": pa.array(rng.choice([16, 32, 64], n).astype(np.int32)),
            "h": pa.array(rng.choice([16, 32, 64], n).astype(np.int32)),
            "fmt": pa.array(rng.choice(["png", "jpeg", "webp"], n)),
            "caption": pa.array([f"caption {i} seed {seed}" for i in ids]),
            "phash": pa.array(rng.integers(-(2**62), 2**62, n)),
            "lat": pa.array(lat, mask=~coord_valid),
            "lon": pa.array(lon, mask=~coord_valid),
        },
        schema=GEO_IMAGES_SCHEMA,
    )
    return table, n_null + n_out


def make_inputs(spec: dict, seed: int, out_dir: str) -> dict:
    """Write the workload's seeded input table under ``out_dir`` and
    return what the checks need to know about it."""
    kind = spec["input"]
    path = os.path.join(out_dir, "input")
    if kind == "points":
        table = uniform_points(seed, spec["rows"], spec["lo"], spec["hi"])
        dirty = 0
    elif kind == "geo_images":
        table, dirty = geo_images(
            seed, spec["rows"], spec["payload_min"], spec["payload_max"],
            spec["null_frac"], spec["outside_frac"],
        )
    else:
        raise ValueError(f"unknown input kind: {kind!r}")
    _write(table, path, spec["files"])
    meta = {
        "path": path,
        "rows": table.num_rows,
        "dirty_rows": dirty,
        "input_bytes": sum(
            os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
        ),
    }
    # seeded sample checked row by row against the oracle
    rng = np.random.default_rng([seed, 3])
    pick = np.sort(rng.choice(table.num_rows, spec["oracle_sample"], replace=False))
    sample = table.select(["lat", "lon"]).take(pa.array(pick))
    meta["sample"] = [
        (i, la, lo) for i, la, lo in zip(
            pick.tolist(), sample["lat"].to_pylist(), sample["lon"].to_pylist()
        )
    ]
    return meta
