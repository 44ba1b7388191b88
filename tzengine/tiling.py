"""Raster ↔ vector tiling over the cell grid (north_star requirement).

- ``rasterize_zones``: zone polygons → fixed-resolution per-cell masks
  (cell classified full / partial / out), computed DISTRIBUTED via
  applyInPandas over zone pieces — each piece's raster is an independent
  numpy job, so the stage scales with the zone count, not the driver.
- ``vectorize_coverage``: per-cell masks → compact vector cell sets:
  full cells whose 3 siblings are also full merge into their parent
  (repeatedly), giving the mixed-resolution covering back — the inverse
  direction of the round trip.
- ``expand_to_res``: mixed-resolution cell set → flat raster set, for
  round-trip comparison.

Everything is DataFrame ops + applyInPandas; no per-row Python at plan
level (north_star: "raster↔vector tiling expressed entirely in DataFrame
ops and applyInPandas").
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cells, geom
from .zones import ZonePiece, pieces_to_df

RASTER_SCHEMA = "zone_id string, polygon_id int, cell_id long, kind string"


def raster_mask_for_rings(rings: list[np.ndarray], res: int) -> tuple[np.ndarray, np.ndarray]:
    """(cell_ids, kind) at fixed ``res`` for one piece: kind 1=full,
    0=partial (boundary crosses the cell). Cells fully outside are
    omitted (sparse raster)."""
    lo_lon, lo_lat, hi_lon, hi_lat = geom.rings_bbox(rings)
    cand = cells.cells_covering_bbox(lo_lon, lo_lat, hi_lon, hi_lat, res)
    seg_a, seg_b = geom._segments(rings)
    b = cells.cell_bounds(cand)
    keep_ids, kinds = [], []
    centers = np.stack([(b[:, 0] + b[:, 2]) / 2, (b[:, 1] + b[:, 3]) / 2], axis=1)
    center_in = geom.contains_inclusive(centers, rings)
    for i, c in enumerate(cand):
        box = np.broadcast_to(b[i], (len(seg_a), 4))
        if geom.segments_box_touch(seg_a, seg_b, box).any():
            keep_ids.append(int(c))
            kinds.append(0)
        elif center_in[i]:
            keep_ids.append(int(c))
            kinds.append(1)
    return np.array(keep_ids, dtype=np.int64), np.array(kinds, dtype=np.int8)


def rasterize_zones(
    spark: SparkSession, zones, res: int = 8
) -> DataFrame:
    """zones: list[ZonePiece] or zones DataFrame. One applyInPandas group
    per piece (embarrassingly parallel across executors)."""
    from .session import ensure_shipped

    ensure_shipped(spark)
    zones_df = zones if isinstance(zones, DataFrame) else pieces_to_df(spark, zones)

    def raster_group(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for _, row in pdf.iterrows():
            rings = [
                np.array([(v["lon"], v["lat"]) for v in ring], dtype=np.float64)
                for ring in row["rings"]
            ]
            ids, kinds = raster_mask_for_rings(rings, res)
            for c, k in zip(ids, kinds):
                out.append(
                    (row["zone_id"], int(row["polygon_id"]), int(c),
                     "full" if k == 1 else "partial")
                )
        return pd.DataFrame(
            out, columns=["zone_id", "polygon_id", "cell_id", "kind"]
        )

    return (
        zones_df.repartition(32, "zone_id", "polygon_id")
        .groupBy("zone_id", "polygon_id")
        .applyInPandas(raster_group, RASTER_SCHEMA)
    )


def vectorize_coverage(raster: DataFrame, max_passes: int = 12) -> DataFrame:
    """Merge complete sibling quads of FULL cells into parents, repeatedly
    — raster mask → compact mixed-resolution vector covering (the inverse
    of rasterize). Partial cells pass through unmerged.

    The raster input is uniform-resolution (rasterize_zones output), so a
    bottom-up sweep is exact: at each pass all candidates share one
    resolution; quads with all 4 children full promote to the parent, the
    rest are emitted. Pure DataFrame ops — one groupBy per level, and the
    level count is log4 of the raster size (a handful of cheap jobs)."""
    full = raster.filter(F.col("kind") == "full").select(
        "zone_id", "polygon_id", "cell_id"
    )
    partial = raster.filter(F.col("kind") == "partial").select(
        "zone_id", "polygon_id", "cell_id"
    )

    res_col = F.shiftrightunsigned(F.col("cell_id"), 58)
    morton = F.col("cell_id").bitwiseAND(F.lit((1 << 58) - 1))
    parent_col = (
        F.shiftleft(res_col - 1, 58) + F.shiftrightunsigned(morton, 2)
    ).alias("parent")

    emitted = []
    current = full
    for _ in range(max_passes):
        current = current.localCheckpoint(eager=True)  # cut the lineage per level
        if current.isEmpty():
            break
        by_parent = (
            current.filter(res_col > 0)
            .select("zone_id", "polygon_id", "cell_id", parent_col)
            .groupBy("zone_id", "polygon_id", "parent")
            .agg(F.count("*").alias("n4"), F.collect_list("cell_id").alias("kids"))
        )
        promoted = by_parent.filter(F.col("n4") == 4).select(
            "zone_id", "polygon_id", F.col("parent").alias("cell_id")
        )
        emitted.append(
            by_parent.filter(F.col("n4") < 4).select(
                "zone_id", "polygon_id", F.explode("kids").alias("cell_id")
            )
        )
        emitted.append(current.filter(res_col == 0))
        current = promoted

    final_full = current  # whatever is left if max_passes was hit (or empty)
    for part in emitted:
        final_full = final_full.unionByName(part)
    return final_full.withColumn("kind", F.lit("full")).unionByName(
        partial.withColumn("kind", F.lit("partial"))
    )


def expand_to_res(vector: DataFrame, res: int) -> DataFrame:
    """Inverse of vectorize: expand each (possibly coarse) cell to its
    descendants at ``res`` via sequence+explode (JVM-side; 4^(res-r)
    children per cell — callers keep the gap small)."""
    mask = (1 << 58) - 1
    # per-row shift amounts need SQL shiftleft (the Python wrapper only
    # accepts literal bit counts)
    prepared = (
        vector.withColumn("__res", F.shiftrightunsigned(F.col("cell_id"), 58))
        .withColumn("__morton", F.expr(f"cell_id & {mask}"))
        .withColumn("__gap2", ((F.lit(res) - F.col("__res")) * 2).cast("int"))
    )
    base = F.expr(f"shiftleft(CAST({res} AS BIGINT), 58) + shiftleft(__morton, __gap2)")
    offsets = F.expr("sequence(CAST(0 AS BIGINT), shiftleft(CAST(1 AS BIGINT), __gap2) - 1)")
    return prepared.select(
        "zone_id",
        "polygon_id",
        "kind",
        F.explode(F.transform(offsets, lambda o: base + o)).alias("cell_id"),
    )
