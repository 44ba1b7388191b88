"""Builder ETL: GeoJSON → zones table (reference §2.A, Spark-first).

Reproduces the semantics of the reference builder pipeline
(builder/.../Main.kt):
  B1  source scan          — FeatureCollection (driver parse) or
                             line-delimited features (executor-side parse
                             via mapInArrow over spark.read.text)
  B2  feature → pieces     — Polygon → 1 piece; MultiPolygon → one piece
                             per polygon (Main.kt:78-94); other geometry
                             types rejected
  B3  float32 projection   — every vertex through float32 (Main.kt:41-42)
  B4  cleanse              — ring-orientation normalization (signed
                             shoelace: first ring CW-outer, rest
                             CCW-holes), consecutive-duplicate and
                             closing-vertex drop. Full esri
                             OperatorSimplify self-intersection repair is
                             NOT reproduced (documented gap, SURVEY §7 —
                             synthetic fixtures are valid by construction)
  B5  drop empties         — pieces with <3 distinct vertices (Main.kt:107-109)
  B6  bbox                 — min/max per piece → prune columns (Main.kt:62-74)

Output schema = zones.ZONES_SCHEMA; ``ordinal`` is the global feature
order (the stable area-sort tie-break, matching the archive order the
reference preserves through its stable sort).
"""

from __future__ import annotations

import json
import zlib

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from . import geom
from .zones import ZONES_SCHEMA, ZonePiece, pieces_batch, pieces_to_df


def _normalize_ring(coords: list, want_cw: bool) -> list[np.ndarray]:
    """GeoJSON ring [[lon, lat], ...] → list of SIMPLE (V,2)
    float32-widened (lon,lat) loops with enforced orientation, no closing
    vertex, no consecutive duplicates. Self-intersecting input (bowtie /
    figure-eight / spike — the real-world GeoJSON defects esri
    ``OperatorSimplify`` repairs in cleanseRegion, builder/.../Main.kt:
    44-60) is untangled into its simple loops; degenerate loops vanish."""
    arr = np.asarray(coords, dtype=np.float64)[:, :2]
    arr = geom.f32(arr)
    if len(arr) >= 2 and np.array_equal(arr[0], arr[-1]):
        arr = arr[:-1]
    if len(arr) >= 2:
        dup = np.all(arr == np.roll(arr, 1, axis=0), axis=1)
        arr = arr[~dup]
    if len(arr) < 3:
        return []
    out = []
    for loop in geom.split_self_intersections(arr):
        is_ccw = geom.ring_signed_area(loop) > 0  # shoelace positive = CCW
        if is_ccw == want_cw:
            loop = loop[::-1].copy()
        out.append(loop)
    return out


def feature_to_pieces(feature: dict, ordinal_base: int) -> list[ZonePiece]:
    """B2+B3+B4+B5 for one GeoJSON feature. ``tzid`` property is the zone
    id (timezone-boundary-builder convention)."""
    props = feature.get("properties") or {}
    zone_id = props.get("tzid") or props.get("TZID") or props.get("zone_id")
    if zone_id is None:
        raise ValueError("feature has no tzid property")
    geometry = feature.get("geometry") or {}
    gtype = geometry.get("type")
    if gtype == "Polygon":
        polys = [geometry["coordinates"]]
    elif gtype == "MultiPolygon":
        polys = geometry["coordinates"]
    else:
        raise ValueError(f"unsupported geometry type: {gtype}")

    pieces = []
    for poly_id, poly in enumerate(polys):
        rings = []
        for ri, ring_coords in enumerate(poly):
            # a repaired ring may yield several simple loops (bowtie →
            # two lobes); all keep the ring's role orientation and the
            # even-odd PIP treats them exactly as esri's simplified
            # multi-path polygon would
            rings.extend(_normalize_ring(ring_coords, want_cw=(ri == 0)))
        if not rings or geom.polygon_area2d(rings) <= 0:
            continue  # B5
        pieces.append(
            ZonePiece(zone_id, poly_id, ordinal_base + poly_id, rings)
        )
    return pieces


def feature_polygon_count(feature: dict) -> int:
    """Number of polygons a feature declares (BEFORE cleanse drops) — the
    ordinal_base advance. Using the declared count, not the surviving
    piece count, keeps ordinals globally unique even when a MultiPolygon
    member is dropped as empty (otherwise the next feature's base would
    collide with this feature's kept pieces and make the (area, ordinal)
    tie-break ambiguous)."""
    geometry = feature.get("geometry") or {}
    if geometry.get("type") == "Polygon":
        return 1
    return len(geometry.get("coordinates") or [])


def zones_from_geojson(spark: SparkSession, path: str) -> DataFrame:
    """B1 driver path: parse a whole FeatureCollection file (the upstream
    timezone-boundary-builder release shape — one big JSON object, so it
    cannot be line-split; zone sets are broadcast-small by design)."""
    with open(path) as f:
        fc = json.load(f)
    if fc.get("type") != "FeatureCollection":
        raise ValueError("expected a GeoJSON FeatureCollection")
    pieces: list[ZonePiece] = []
    base = 0
    for feature in fc.get("features", []):
        pieces.extend(feature_to_pieces(feature, ordinal_base=base))
        base += feature_polygon_count(feature)
    return pieces_to_df(spark, pieces)


def geojsonl_batch(batch):
    """One Arrow batch of GeoJSON Feature lines (``value``) → their
    cleansed zone pieces as a ZONES_SCHEMA pa.RecordBatch, pandas-free.

    Ordinals are stable: a feature must carry its own index
    (``feature_ordinal``) for EXACT reference ingest-order parity at
    world scale; the fallback is a content hash (crc32 of the WHOLE
    feature line, not just the tzid — two features sharing a tzid must
    not collide, ADVICE r2 #4), deterministic across processes and
    sessions (Python's str hash is salt-randomized and only looks stable
    because Spark pins worker PYTHONHASHSEED). Residual 2^-30
    cross-feature collisions fail fast at compile time
    (index.check_unique_ordinals) instead of silently corrupting the
    tie-break."""
    pieces: list[ZonePiece] = []
    for line in batch.column("value").to_pylist():
        feature = json.loads(line)
        base = (feature.get("properties") or {}).get("feature_ordinal")
        if base is None:
            base = zlib.crc32(line.encode("utf-8")) % (1 << 30)
        pieces += feature_to_pieces(feature, ordinal_base=int(base))
    return pieces_batch(pieces)


def zones_from_geojsonl(
    spark: SparkSession, path: str, return_dup_counter: bool = False
):
    """B1 executor path: one GeoJSON Feature per line (jsonl). The
    parse + cleanse runs on executors (``geojsonl_batch`` in a
    mapInArrow over a text scan); ordinals are derived from a stable
    per-feature key so the result is partitioning-independent.

    ``return_dup_counter=True`` returns ``(df, dup_counter)`` where
    ``dup_counter`` is the Spark accumulator counting collapsed
    byte-identical duplicate lines (read ``.value`` after the FIRST
    action)."""
    from pyspark.sql import functions as F

    from .session import ensure_shipped

    ensure_shipped(spark)
    # Dedup byte-identical duplicate feature lines (file-concatenation
    # artifacts): they describe the same piece, and the content-hash
    # ordinal would make them collide in the compile's duplicate-
    # ordinal fail-fast (index.check_unique_ordinals) — dropping them here is lossless. Distinct
    # features that collide (~2^-30 per pair) still fail fast there.
    # Order-independence is free: ordinals are content-derived.
    # groupBy+count instead of bare distinct() (same shuffle shape) so
    # the drop is OBSERVABLE, not silent (ADVICE r3 #4): dropped-line
    # totals feed the accumulator ``return_dup_counter`` hands back,
    # and each duplicated line logs an executor-side warning.
    # Accumulator caveat (standard Spark transformation semantics):
    # updates are at-least-once — evaluating the DataFrame twice (or a
    # task retry) adds again, so read the counter after the FIRST action
    # only; treat it as observability, not an exact ledger.
    lines = (
        spark.read.text(path)
        .filter("length(trim(value)) > 0")
        .groupBy("value")
        .agg(F.count("*").alias("__mult"))
    )
    dup_acc = spark.sparkContext.accumulator(0)

    def parse(batches):
        import logging

        for batch in batches:
            n_dup = sum(max(m - 1, 0) for m in batch.column("__mult").to_pylist())
            if n_dup:
                dup_acc.add(n_dup)
                logging.getLogger(__name__).warning(
                    "zones_from_geojsonl: collapsed %d byte-identical "
                    "duplicate feature line(s) in this batch", n_dup
                )
            yield geojsonl_batch(batch)

    df = lines.mapInArrow(parse, from_arrow_schema(ZONES_SCHEMA))
    if return_dup_counter:
        return df, dup_acc
    return df


def world_to_geojson(pieces: list[ZonePiece], path: str, jsonl: bool = False) -> None:
    """Inverse (test fixture helper): zone pieces → GeoJSON file.
    Multi-piece zones are emitted as MultiPolygon features."""
    by_zone: dict[str, list[ZonePiece]] = {}
    order: list[str] = []
    for p in pieces:
        if p.zone_id not in by_zone:
            order.append(p.zone_id)
        by_zone.setdefault(p.zone_id, []).append(p)

    features = []
    ordinal = 0
    for zid in order:
        zps = sorted(by_zone[zid], key=lambda p: p.polygon_id)
        polys = []
        for p in zps:
            poly = []
            for r in p.rings:
                ring = [[float(v[0]), float(v[1])] for v in r]
                ring.append(ring[0])  # close, per GeoJSON spec
                poly.append(ring)
            polys.append(poly)
        if len(polys) == 1:
            geometry = {"type": "Polygon", "coordinates": polys[0]}
        else:
            geometry = {"type": "MultiPolygon", "coordinates": polys}
        features.append(
            {
                "type": "Feature",
                "properties": {"tzid": zid, "feature_ordinal": ordinal},
                "geometry": geometry,
            }
        )
        ordinal += len(polys)

    if jsonl:
        with open(path, "w") as f:
            for feat in features:
                f.write(json.dumps(feat) + "\n")
    else:
        with open(path, "w") as f:
            json.dump({"type": "FeatureCollection", "features": features}, f)
