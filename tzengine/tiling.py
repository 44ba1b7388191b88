"""Raster ↔ vector tiling over the cell grid (north_star requirement).

- ``rasterize_zones``: zone polygons → fixed-resolution per-cell masks
  (cell classified full / partial / out), computed DISTRIBUTED by one
  mapInArrow over the zone pieces — each piece's raster is an
  independent numpy job, so the stage scales with the zone count, not
  the driver.
- ``vectorize_coverage``: per-cell masks → compact vector cell sets:
  full cells whose 3 siblings are also full merge into their parent
  (repeatedly), giving the mixed-resolution covering back — the inverse
  direction of the round trip.
- ``expand_to_res``: mixed-resolution cell set → flat raster set, for
  round-trip comparison.

Everything is DataFrame ops plus one Arrow-native, pandas-free
mapInArrow; no per-row Python at plan level.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import cells, geom, index
from .arrowio import arrow_array, arrow_rings, map_batches
from .zones import pieces_to_df

#: raster_batch's output: ``full`` is 1 for a full cell, 0 for a partial
RASTER_CELLS_SCHEMA = pa.schema([
    ("zone_id", pa.string()), ("polygon_id", pa.int32()),
    ("cell_id", pa.int64()), ("full", pa.int8()),
])


def raster_mask_for_rings(rings: list[np.ndarray], res: int) -> tuple[np.ndarray, np.ndarray]:
    """(cell_ids, kind) at fixed ``res`` for one piece: kind 1=full,
    0=partial (the boundary touches the cell's closed rectangle). Cells
    fully outside are omitted (sparse raster).

    ``index.cover_cells`` runs down to ``res`` with no cap: its boundary
    cells are the partial cells, and its interior cells expand to their
    ``res`` descendants (an untouched cell has only untouched children).
    The BFS also keeps a cell that touches the bbox only from the left
    or below, which ``cells.cells_covering_bbox`` (the floor of each
    bbox edge) never proposes, so cells outside that grid range drop."""
    lo_lon, lo_lat, hi_lon, hi_lat = geom.rings_bbox(rings)
    base = index._base_res_for_bbox(hi_lon - lo_lon, hi_lat - lo_lat)
    ids, interior, _ = index.cover_cells(rings, min(base, res), res, math.inf)
    ids = ids.astype(np.int64)
    level = cells.cell_res(ids)
    gap = 2 * (res - level)
    n_desc = np.int64(1) << gap
    morton = geom._expand((ids - (level << 58)) << gap, n_desc)
    kind = np.repeat(interior.astype(np.int8), n_desc)
    ix, iy = cells.morton_decode(morton)
    (ix0, ix1), (iy0, iy1) = cells.grid_of([lo_lon, hi_lon], [lo_lat, hi_lat], res)
    keep = (ix >= ix0) & (ix <= ix1) & (iy >= iy0) & (iy <= iy1)
    return morton[keep] | (np.int64(res) << 58), kind[keep]


def raster_batch(batch, res: int):
    """One zones Arrow batch (``zone_id``, ``polygon_id``, ``rings``) →
    its RASTER_CELLS_SCHEMA rows as a pa.RecordBatch, pandas-free."""
    cell_ids, fulls = [np.zeros(0, np.int64)], [np.zeros(0, np.int8)]
    for rings in arrow_rings(batch.column("rings")):
        ids, full = raster_mask_for_rings(rings, res)
        cell_ids.append(ids)
        fulls.append(full)
    counts = [len(ids) for ids in cell_ids[1:]]
    row = arrow_array(np.repeat(np.arange(len(counts)), counts))
    return pa.RecordBatch.from_arrays(
        [
            batch.column("zone_id").take(row).cast(pa.string()),
            batch.column("polygon_id").take(row).cast(pa.int32()),
            arrow_array(np.concatenate(cell_ids)),
            arrow_array(np.concatenate(fulls)),
        ],
        schema=RASTER_CELLS_SCHEMA,
    )


def rasterize_zones(
    spark: SparkSession, zones, res: int = 8
) -> DataFrame:
    """zones: list[ZonePiece] or zones DataFrame. One mapInArrow over
    the pieces, spread over 32 tasks (embarrassingly parallel across
    executors); the full/partial names are mapped on the JVM side."""
    from .session import ensure_shipped

    ensure_shipped(spark)
    zones_df = zones if isinstance(zones, DataFrame) else pieces_to_df(spark, zones)
    cells_df = map_batches(
        zones_df.select("zone_id", "polygon_id", "rings").repartition(32),
        raster_batch, RASTER_CELLS_SCHEMA, res,
    )
    return cells_df.select(
        "zone_id",
        "polygon_id",
        "cell_id",
        F.when(F.col("full") == 1, "full").otherwise("partial").alias("kind"),
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
