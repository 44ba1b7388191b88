"""Zone-set model + builder ETL (reference §2.A semantics, Spark-first).

A *zone piece* is one polygon of one zone: ``(zone_id, polygon_id, rings)``
— the reference splits MultiPolygon features into one entry per polygon
(builder/.../Main.kt:89,93) and flattens each serialized polygon's rings
into a single multi-path geometry (Util.kt:15-25). Rings are (V,2)
float64 arrays in (lon, lat) order whose values sit on the float32 grid
(Serialization.kt:12 storage type).

The zones *table* schema (SURVEY.md §1.3):

    zone_id   string
    polygon_id int        -- stable ordinal within the zone (tie-break)
    ordinal   int         -- global ingest ordinal (area-sort tie-break)
    rings     array<array<struct<lat float, lon float>>>
    min_lat/min_lon/max_lat/max_lon float   -- bbox, drives pruning (O1)
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from . import geom
from .arrowio import arrow_column, arrow_list


@dataclass
class ZonePiece:
    zone_id: str
    polygon_id: int
    ordinal: int  # global ingest order — the stable-sort tie-break (I11)
    rings: list[np.ndarray] = field(default_factory=list)  # (V,2) lon,lat

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        """(min_lon, min_lat, max_lon, max_lat)."""
        return geom.rings_bbox(self.rings)

    @property
    def area2d(self) -> float:
        return geom.polygon_area2d(self.rings)


def make_piece(
    zone_id: str, polygon_id: int, ordinal: int, rings_latlon: list[list[tuple]]
) -> ZonePiece:
    """Build a piece from (lat, lon) vertex lists, applying the reference's
    double→float32→double round-trip (builder/.../Main.kt:41-42)."""
    rings = []
    for ring in rings_latlon:
        arr = geom.f32(np.asarray(ring, dtype=np.float64))
        rings.append(arr[:, ::-1].copy())  # (lat,lon) -> (lon,lat)
    return ZonePiece(zone_id, polygon_id, ordinal, rings)


def _rect(lat0, lon0, lat1, lon1):
    """Clockwise rectangle ring in (lat, lon) pairs (outer-ring convention,
    UtilTest.java:33-40)."""
    return [(lat1, lon0), (lat1, lon1), (lat0, lon1), (lat0, lon0)]


def square_with_island_rings_latlon():
    """The UtilTest.java:17-58 fixture in (lat, lon) form."""
    return [
        _rect(1, 1, 2, 2),
        # hole (CCW)
        [(1.9, 1.1), (1.5, 1.1), (1.5, 1.5), (1.9, 1.5)],
        # island (CW)
        [(1.7, 1.2), (1.7, 1.3), (1.6, 1.3), (1.6, 1.2)],
    ]


def synthetic_world() -> list[ZonePiece]:
    """Deterministic full-coverage zone world over lat∈[0,10], lon∈[0,10]
    (FIXTURES.md T4). Structure ports the TimeZoneMapTest scenarios:
    holes/islands, overlapping pair (Xinjiang case), MultiPolygon split,
    enclave-in-host, and an everything-covering filler (oceans stand-in)."""
    pieces = [
        make_piece("Zone/SquareIsland", 0, 0, square_with_island_rings_latlon()),
        make_piece("Zone/Small", 0, 1, [_rect(4, 4, 5, 5)]),
        make_piece("Zone/Big", 0, 2, [_rect(3, 3, 6, 6)]),
        make_piece("Zone/Multi", 0, 3, [_rect(7, 1, 8, 2)]),
        make_piece("Zone/Multi", 1, 4, [_rect(7, 3, 8, 4)]),
        make_piece("Zone/Enclave", 0, 5, [_rect(8.2, 6.2, 8.4, 6.4)]),
        make_piece("Zone/Host", 0, 6, [_rect(8, 6, 9, 7)]),
        make_piece("Zone/Filler", 0, 7, [_rect(0, 0, 10, 10)]),
    ]
    return pieces


WORLD_VERSION = "synth1"


# --- Spark table round-trip -------------------------------------------------

#: the zones table's Arrow schema (one row per piece; see the module
#: docstring)
ZONES_SCHEMA = pa.schema([
    ("zone_id", pa.string()), ("polygon_id", pa.int32()), ("ordinal", pa.int32()),
    ("rings", pa.list_(pa.list_(
        pa.struct([("lat", pa.float32()), ("lon", pa.float32())])
    ))),
    *((c, pa.float32()) for c in ("min_lat", "min_lon", "max_lat", "max_lon")),
])


def pieces_batch(pieces: list[ZonePiece]) -> pa.RecordBatch:
    """Zone pieces as one ZONES_SCHEMA Arrow batch, pandas-free: ring
    vertices go into one concatenated float32 buffer with CSR list
    offsets, zero per-vertex Python (the per-value float32 casts are
    exact: make_piece snaps every vertex to the f32 grid). A NaN
    coordinate or bbox bound is NULL."""
    all_rings = [r for p in pieces for r in p.rings]
    verts = np.concatenate(all_rings) if all_rings else np.zeros((0, 2))
    bb = np.array([p.bbox for p in pieces], np.float64).reshape(-1, 4)
    f32 = pa.float32()
    vstruct = pa.StructArray.from_arrays(
        [arrow_column(verts[:, 1], f32), arrow_column(verts[:, 0], f32)],
        ["lat", "lon"],
    )
    rings = arrow_list(
        np.cumsum([0] + [len(p.rings) for p in pieces]),
        arrow_list(np.cumsum([0] + [len(r) for r in all_rings]), vstruct),
    )
    return pa.RecordBatch.from_arrays(
        [
            arrow_column([p.zone_id for p in pieces], pa.string()),
            arrow_column([p.polygon_id for p in pieces], pa.int32()),
            arrow_column([p.ordinal for p in pieces], pa.int32()),
            rings,
            # bbox is (lo_lon, lo_lat, hi_lon, hi_lat)
            *(arrow_column(bb[:, i], f32) for i in (1, 0, 3, 2)),
        ],
        schema=ZONES_SCHEMA,
    )


def pieces_to_df(spark, pieces: list[ZonePiece]):
    """Zones table as a Spark DataFrame (bbox columns → Parquet min/max
    stats give the reference's deserialize-free pruning, SURVEY §2.A B8),
    built from one ``pieces_batch``: a 1M-vertex coastline world builds
    in milliseconds instead of the seconds the nested-tuple row path
    took. Result is row-identical to the historical nested-tuple row
    path (asserted in tests)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    if not pieces:
        return spark.createDataFrame([], schema=from_arrow_schema(ZONES_SCHEMA))
    return spark.createDataFrame(pa.Table.from_batches([pieces_batch(pieces)]))
