"""TzEngine — the public Spark-facing API.

The reference's `TimeZoneMap` surface (forEverywhere / forRegion /
getOverlappingTimeZone(s) / getDistanceFromBoundary / mapVersion /
timeZones / initializedRegion, TimeZoneMap.kt + TimeZone.kt) re-expressed
as DataFrame transforms: the compiled covering index is a Spark broadcast
variable and every query op is a vectorized ``arrow_udf`` — no per-row
Python (input_hint), no shuffle on the probe side (the whole lookup is a
broadcast spatial join). Only numbers cross the Python boundary: lat/lon
in, int16/int32 piece ranks or float64 distances out; zone names are
mapped to and from ranks JVM-side through one rank->name literal array.
Every scalar UDF (assign, distance_from_boundary, knn_zones) takes only
lat/lon, so a chain of them runs as ONE ArrowEvalPython node — one
Python worker per task, lat/lon shipped once. The UDF bodies read and
write Arrow buffers directly (probe.arrow_f64 / arrow_list), so the
workers never import pandas.
"""

from __future__ import annotations

import pickle

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import geom
from . import index as indexmod
from . import probe as probemod
from .zones import ZonePiece

DEFAULT_PROBE_RES = 7  # output cell resolution for tiling/shard analytics
DEFAULT_N_SHARDS = 64


def _sql_name(name: str) -> str:
    """A column name as a SQL identifier: the whole name in backticks,
    embedded backticks doubled (so ``la`t`` and ``lo.n`` name top-level
    columns, never a parse error or a struct-field access)."""
    return "`" + name.replace("`", "``") + "`"


def _sql_double(x: float) -> str:
    """A float as a SQL DOUBLE literal. The ``D`` suffix matters: a bare
    SQL float literal parses as DECIMAL, which would change the
    arithmetic; ``repr`` round-trips the IEEE double exactly. SQL has no
    infinity literal, so ±inf becomes a cast string."""
    if np.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{float(x)!r}D"


def cell_of_expr(lat_col, lon_col, res: int):
    """JVM-side mirror of ``cells.cell_of`` as a Column expression: the
    same IEEE double quantization (CAST truncates toward zero, exactly
    like numpy's astype(int64)) and the same Morton interleave as bit
    ops inside whole-stage codegen. Keeping the probe-res cell id out of
    the Python UDF narrows the Arrow return struct by 8 bytes/row and
    drops one encode from the Python kernel; value parity with the
    numpy path is asserted in tests and by the hot_cells DuckDB oracle
    (which mirrors the identical arithmetic)."""
    from . import cells

    if not 0 <= res <= cells.MAX_RES:  # same contract as cells.cell_of
        raise ValueError(f"resolution must be in [0, {cells.MAX_RES}]")
    n = 1 << res
    # ONE parsed SQL expression (round 6): the Column-API tree cost ~50
    # py4j round trips per assign_timezones invocation — driver plan-
    # building time the frozen bench times on every re-invoked query.
    # `180.0D` is the same IEEE double F.lit(180.0) produced (parity
    # pinned in test_engine_spark).
    ix = (
        f"least(greatest(CAST((({_sql_name(lon_col)} + 180.0D) / 360.0D * "
        f"{_sql_double(n)}) AS BIGINT), 0), {n - 1})"
    )
    iy = (
        f"least(greatest(CAST((({_sql_name(lat_col)} + 90.0D) / 180.0D * "
        f"{_sql_double(n)}) AS BIGINT), 0), {n - 1})"
    )
    if res == 0:
        morton = "CAST(0 AS BIGINT)"
    else:
        terms = []
        for b in range(res):
            tx = f"shiftleft((shiftrightunsigned({ix}, {b}) & 1), {2 * b})"
            ty = f"shiftleft((shiftrightunsigned({iy}, {b}) & 1), {2 * b + 1})"
            terms.append(f"({tx} | {ty})")
        morton = "(" + " | ".join(terms) + ")"
    return F.expr(f"shiftleft(CAST({res} AS BIGINT), 58) | {morton}")


def _lat_lon_args(lat_col: str, lon_col: str):
    """The (lat, lon) arguments of every probe UDF, as doubles: the
    UDFs read the Arrow buffers as float64, and identical argument
    expressions let Spark ship each column once to the shared node."""
    return tuple(F.col(_sql_name(c)).cast("double") for c in (lat_col, lon_col))


def compile_batch(batch, region, depth: int, area_col: str | None = None):
    """One zones Arrow batch (``ordinal``, ``zone_id``, ``polygon_id``,
    ``rings``, and ``area_col`` when given) → one row per piece:
    ``ordinal``, ``zone_id``, ``polygon_id``, ``pre_area`` (``area_col``,
    else the piece's planar area) and ``blobs`` (its pickled
    ``compile_piece`` components, none when it is pruned or clipped
    away), as a pa.RecordBatch, pandas-free. The body of the executor
    compile."""
    cols = dict(zip(batch.schema.names, batch.columns))
    areas = probemod.arrow_f64(cols[area_col]) if area_col is not None else None
    pre_areas, blobs, n_blobs = [], [], []
    for i, rings in enumerate(probemod.arrow_rings(cols["rings"])):
        pre_areas.append(
            areas[i] if areas is not None else geom.polygon_area2d(rings)
        )
        parts = indexmod.compile_source(rings, *region, depth)
        blobs += [pickle.dumps(d, protocol=5) for d in parts]
        n_blobs.append(len(parts))
    ends = np.cumsum([0] + [len(b) for b in blobs])
    if ends[-1] > np.iinfo(np.int32).max:
        raise ValueError("compiled pieces of one batch exceed 2 GiB")
    blob_arr = pa.Array.from_buffers(
        pa.binary(), len(blobs),
        [None, pa.py_buffer(ends.astype(np.int32)), pa.py_buffer(b"".join(blobs))],
    )
    return pa.RecordBatch.from_arrays(
        [
            cols["ordinal"].cast(pa.int32()),
            cols["zone_id"].cast(pa.string()),
            cols["polygon_id"].cast(pa.int32()),
            probemod.arrow_array(np.array(pre_areas, np.float64)),
            pa.ListArray.from_arrays(
                probemod.arrow_array(np.cumsum([0] + n_blobs).astype(np.int32)),
                blob_arr,
            ),
        ],
        ["ordinal", "zone_id", "polygon_id", "pre_area", "blobs"],
    )


class TzEngine:
    """Immutable after construction (like the reference map object —
    share freely across queries)."""

    def __init__(self, spark: SparkSession, idx: indexmod.CompiledIndex):
        from .session import ensure_shipped

        ensure_shipped(spark)  # executors must be able to import tzengine
        self.spark = spark
        self.idx = idx
        self._bc = spark.sparkContext.broadcast(idx)
        # the rank -> zone-name array every op maps through JVM-side:
        # element_at(lit, rank + 1), and Q5's zone head
        # array_position(lit, name) - 1. ONE parsed expression:
        # F.array(*[F.lit(z) ...]) costs a py4j round trip PER ZONE
        # (~0.5 s for the 454-piece world)
        self._zone_lit = F.expr(
            "array("
            + ", ".join("'" + z.replace("'", "''") + "'" for z in idx.zone_ids)
            + ")"
        )
        # shipped rank type: int16 whenever the piece count fits (half
        # the Arrow-boundary bytes of int32)
        self._rank_t = (
            T.ShortType() if probemod.rank_dtype(idx) == np.int16
            else T.IntegerType()
        )

    # -- construction (reference I0-I13) ------------------------------------

    @classmethod
    def for_region(
        cls,
        spark: SparkSession,
        zones,
        min_lat: float,
        min_lon: float,
        max_lat: float,
        max_lon: float,
        world_version: str = "unknown",
        depth: int = 5,
        distributed: bool = False,
    ) -> "TzEngine":
        """``zones``: list[ZonePiece] (compiled on the driver) or a zones
        DataFrame (schema zones.ZONES_SCHEMA_DDL), which always compiles
        on executors. Its bbox prune runs as a pushed-down Parquet
        predicate before any geometry is read — the engine analogue of
        the reference's deserialize-free envelope prune (O1,
        TimeZoneMap.kt:184-196). ``distributed`` is ignored; it is
        accepted only for callers that still pass it."""
        if not isinstance(zones, DataFrame):
            return cls(spark, indexmod.compile_index(
                list(zones), min_lat, min_lon, max_lat, max_lon,
                world_version=world_version, depth=depth,
            ))
        pruned = zones.filter(
            ~(
                (F.col("max_lat") < F.lit(min_lat))
                | (F.col("min_lat") > F.lit(max_lat))
                | (F.col("max_lon") < F.lit(min_lon))
                | (F.col("min_lon") > F.lit(max_lon))
            )
        )
        return cls._compile_on_executors(
            spark, pruned, (min_lat, min_lon, max_lat, max_lon),
            world_version, depth,
        )

    @classmethod
    def for_everywhere(
        cls, spark: SparkSession, zones, world_version: str = "unknown", **kw
    ) -> "TzEngine":
        """Reference forEverywhere() == forRegion(-90,-180,90,180)
        (TimeZoneMap.kt:97-98)."""
        return cls.for_region(
            spark, zones, -90.0, -180.0, 90.0, 180.0, world_version=world_version, **kw
        )

    @classmethod
    def _compile_on_executors(
        cls, spark, zones_df: DataFrame, region, world_version: str,
        depth: int, area_col: str | None = None,
    ) -> "TzEngine":
        """Compile a zones DataFrame (SURVEY §3.1): one mapInArrow runs
        ``index.compile_source`` on every source piece and emits ONE row
        per piece — ordinal, zone_id, polygon_id, pre-clip area and its
        pickled ``compile_piece`` blobs (none when the piece is pruned or
        clipped away) — then one collect. The driver checks ordinal
        uniqueness over every row and runs the driver compile's own
        ``assemble_sources``, so the ring geometry never crosses to the
        driver as nested Rows. ``area_col`` names a column holding the
        PRE-clip area (artifact reloads: their rings are already clipped,
        so they can no longer reproduce the reference's sort key)."""
        indexmod.validate_region(*region)
        src_cols = ["ordinal", "zone_id", "polygon_id", "rings"]
        if area_col is not None:
            src_cols.append(area_col)
        rows = (
            zones_df.select(*src_cols)
            .repartition(spark.sparkContext.defaultParallelism)
            .mapInArrow(
                lambda batches: (
                    compile_batch(b, region, depth, area_col) for b in batches
                ),
                "ordinal int, zone_id string, polygon_id int, "
                "pre_area double, blobs array<binary>",
            )
            .collect()
        )
        indexmod.check_unique_ordinals(rows)
        sources = [
            (
                r.zone_id, r.polygon_id, r.ordinal, r.pre_area,
                [pickle.loads(b) for b in r.blobs],
            )
            for r in rows
        ]
        return cls(spark, indexmod.assemble_sources(
            sources, *region, world_version
        ))

    # -- accessors (reference I14) -------------------------------------------

    @property
    def map_version(self) -> str:
        return self.idx.version

    @property
    def initialized_region(self) -> tuple[float, float, float, float]:
        return self.idx.init_region

    def zones(self) -> DataFrame:
        """The clipped, area-rank-ordered zone pieces as a DataFrame
        (reference `timeZones` accessor, TimeZoneMap.kt:34).

        Arrow-native: the index's CSR arrays (coords + ring/coord
        offsets, each ring's closing copy dropped) map 1:1 onto Arrow
        nested lists, so the table is built with zero per-vertex Python —
        this is the `save_artifact` write path and must stay O(array
        bytes) at 100x zone worlds, not O(vertices) Python-object churn."""
        idx = self.idx
        rows = np.diff(idx.coord_offsets)  # a ring's vertices + 1, or 0
        vert_offsets = idx.coord_offsets - np.r_[0, np.cumsum(rows > 0)]
        # Arrow list<> offsets are int32; .astype would silently WRAP past
        # 2^31 vertices (ADVICE r3 #3) — fail fast instead of corrupting.
        # (Spark's ArrowConversion does not accept large_list, so the
        # int64-offset escape hatch isn't available here; a >2^31-vertex
        # world must be exported in zone-range slices.)
        if int(vert_offsets[-1]) > np.iinfo(np.int32).max:
            raise ValueError(
                f"zones(): {int(vert_offsets[-1])} vertices exceed Arrow "
                "int32 list-offset range (2^31-1); export in slices"
            )
        closing = idx.coord_offsets[1:][rows > 0] - 1
        verts = np.delete(idx.coords, closing, axis=0).astype(np.float64)
        struct_arr = pa.StructArray.from_arrays(
            [pa.array(verts[:, 1]), pa.array(verts[:, 0])], ["lat", "lon"]
        )
        ring_list = pa.ListArray.from_arrays(
            pa.array(vert_offsets.astype(np.int32)), struct_arr
        )
        rings_col = pa.ListArray.from_arrays(
            pa.array(idx.ring_offsets.astype(np.int32)), ring_list
        )
        bb = idx.piece_bbox  # (lo_lon, lo_lat, hi_lon, hi_lat) per piece
        table = pa.table(
            {
                "area_rank": pa.array(
                    np.arange(idx.n_pieces, dtype=np.int32)
                ),
                "zone_id": pa.array(idx.zone_ids, pa.string()),
                "polygon_id": pa.array(idx.polygon_ids.astype(np.int32)),
                "area_deg2": pa.array(idx.areas.astype(np.float64)),
                "rings": rings_col,
                "min_lat": pa.array(bb[:, 1].astype(np.float64)),
                "min_lon": pa.array(bb[:, 0].astype(np.float64)),
                "max_lat": pa.array(bb[:, 3].astype(np.float64)),
                "max_lon": pa.array(bb[:, 2].astype(np.float64)),
            }
        )
        return self.spark.createDataFrame(table)

    # -- query ops ------------------------------------------------------------

    def assign_timezones(
        self,
        df: DataFrame,
        lat_col: str = "lat",
        lon_col: str = "lon",
        mode: str = "pipeline",
        probe_res: int = DEFAULT_PROBE_RES,
        n_shards: int = DEFAULT_N_SHARDS,
        include_all: bool = True,
    ) -> DataFrame:
        """The core operator: point ⋈ zone-set broadcast spatial join.

        Adds columns tzid (smallest-area match, Q1), tzids (all matches
        area-ascending, Q2), cell_id (probe-res tile), zone_shard
        (deterministic output shard) and in_region. No shuffle: the index
        is broadcast, the probe is a narrow map over Arrow batches.

        ``include_all=False`` is the reference's Q1-only call
        (getOverlappingTimeZone): the all-matches rank list is neither
        built nor serialized across the Arrow boundary and no per-element
        JVM transform runs — a narrower plan for pipelines that only
        consume ``tzid``.

        The probe UDFs are referenced inline in ONE select (no temp
        columns), so any input column name is accepted, including
        backticks and dots in ``lat_col`` / ``lon_col``."""
        bc = self._bc
        rank_t = self._rank_t
        # Arrow-native scalar UDFs (Spark 4.1 arrow_udf): only (lat, lon)
        # cross into Python, payload columns stay JVM-side, and the
        # kernel's native pyarrow outputs go straight out. The ``valid``
        # flag is NOT shipped: it is pure region-bound arithmetic on the
        # lat/lon columns the JVM already holds (valid_c below).
        #
        # tzid and tzids ride SEPARATE UDFs so their lineages are
        # independent: a consumer that only reads ``tzid`` lets column
        # pruning drop the rank-LIST kernel and its Arrow list transport
        # entirely. A consumer selecting BOTH pays one extra kernel pass,
        # not extra transport: Spark collapses same-level Python UDFs
        # into ONE ArrowEvalPython node (and evaluates a repeated call
        # once), so lat/lon cross once (plan-asserted in tests).
        @F.arrow_udf(rank_t)
        def _probe_first(lat: pa.Array, lon: pa.Array) -> pa.Array:
            _valid, first_arr, _ = probemod.probe_arrow(
                bc.value, probemod.arrow_f64(lat), probemod.arrow_f64(lon),
                mode=mode, with_all=False,
            )
            return first_arr

        lat_lon = _lat_lon_args(lat_col, lon_col)
        first_c = _probe_first(*lat_lon)  # -1 when no match
        # numpy's region test as one parsed expression: isnan guards SQL
        # ranking NaN above every value (numpy comparisons are False);
        # coalesce reads a NULL coordinate as invalid, like the NaN it
        # becomes across the Arrow boundary
        lat_s, lon_s = _sql_name(lat_col), _sql_name(lon_col)
        mn_lat, mn_lon, mx_lat, mx_lon = map(_sql_double, self.idx.init_region)
        valid_c = F.expr(
            f"coalesce(NOT isnan(CAST({lat_s} AS DOUBLE)) AND "
            f"NOT isnan(CAST({lon_s} AS DOUBLE)) AND "
            f"{lat_s} >= {mn_lat} AND {lat_s} <= {mx_lat} AND "
            f"{lon_s} >= {mn_lon} AND {lon_s} <= {mx_lon}, false)"
        )
        # JVM-side rank -> zone-name mapping; invalid rows (out-of-region
        # / NaN, pipeline mode) carry sentinel values from Python and are
        # nulled here
        zone_lit = self._zone_lit
        out = [
            F.when(
                valid_c & (first_c >= 0), F.element_at(zone_lit, first_c + 1)
            ).alias("tzid")
        ]
        if include_all:

            @F.arrow_udf(T.ArrayType(rank_t))
            def _probe_all(lat: pa.Array, lon: pa.Array) -> pa.Array:
                _valid, _first, list_arr = probemod.probe_arrow(
                    bc.value, probemod.arrow_f64(lat),
                    probemod.arrow_f64(lon), mode=mode, with_all=True,
                )
                return list_arr

            out.append(
                F.when(
                    valid_c,
                    F.transform(
                        _probe_all(*lat_lon),
                        lambda r: F.element_at(zone_lit, r + 1),
                    ),
                ).alias("tzids")
            )
        # deterministic shard assignment: xxhash64 of the cell id
        cell_expr = cell_of_expr(lat_col, lon_col, probe_res)
        return df.select(
            "*",
            *out,
            F.when(valid_c, cell_expr).alias("cell_id"),
            F.when(
                valid_c,
                F.pmod(F.xxhash64(cell_expr), F.lit(n_shards)).cast("int"),
            ).alias("zone_shard"),
            # in_region distinguishes "outside the initialized region"
            # (a pipeline-mode violation) from "in region but covered
            # by no zone" (tzid null, NOT a violation) — the violation
            # counter must use this, not tzid IS NULL
            valid_c.alias("in_region"),
        )

    def distance_from_boundary(
        self,
        df: DataFrame,
        zone_col: str = "tzid",
        lat_col: str = "lat",
        lon_col: str = "lon",
        mode: str = "pipeline",
        out_col: str = "boundary_dist_m",
        metric: str = "geodesic",
    ) -> DataFrame:
        """Q5: distance to the nearest boundary coordinate of the named
        zone's containing piece (TimeZone.kt:41-47); clip edges count as
        boundary. ``metric="geodesic"`` = WGS84 meters (reference
        parity) — the fixed-iteration Vincenty the SQL oracle mirrors;
        ``"planar_deg"`` = planar degrees (cheap pre-filter). A point outside its zone → error
        (strict) / null (pipeline); a NULL zone → null.

        The ``arrow_udf`` takes only lat/lon (so it shares the assign
        probe's ArrowEvalPython node) and returns every containing
        zone's head rank and distance (probe.containing_distances); the
        requested zone is picked JVM-side by its position in the
        rank->name array."""
        if metric not in probemod.METRICS:
            # fail fast driver-side, not as a wrapped executor exception
            raise ValueError(f"unknown metric: {metric!r}")
        if mode not in ("strict", "pipeline"):
            raise ValueError(f"unknown mode: {mode}")
        bc = self._bc
        rank_t = self._rank_t

        @F.arrow_udf(
            T.StructType([
                T.StructField("h", T.ArrayType(rank_t)),
                T.StructField("d", T.ArrayType(T.DoubleType())),
            ])
        )
        def _dist(lat: pa.Array, lon: pa.Array) -> pa.Array:
            idx = bc.value
            offsets, heads, dist = probemod.containing_distances(
                idx, probemod.arrow_f64(lat), probemod.arrow_f64(lon), metric
            )
            return pa.StructArray.from_arrays(
                [
                    probemod.arrow_list(
                        offsets, heads.astype(probemod.rank_dtype(idx))
                    ),
                    probemod.arrow_list(offsets, dist),
                ],
                names=["h", "d"],
            )

        s = _dist(*_lat_lon_args(lat_col, lon_col))
        zone = F.col(zone_col)
        head = (F.array_position(self._zone_lit, zone) - 1).cast(rank_t)
        d = F.get(s.getField("d"), F.array_position(s.getField("h"), head) - 1)
        if mode == "strict":
            d = F.when(
                zone.isNotNull() & d.isNull(),
                F.raise_error(F.lit("Location must be inside the time zone")),
            ).otherwise(d)
        return df.withColumn(out_col, d)

    def knn_zones(
        self,
        df: DataFrame,
        k: int = 3,
        lat_col: str = "lat",
        lon_col: str = "lon",
        out_col: str = "nearest_tzids",
        metric: str = "geodesic",
    ) -> DataFrame:
        """kNN fallback (north_star): zones ordered by boundary distance;
        contained zones are distance 0 and keep the area-rank order, so the
        head agrees with getOverlappingTimeZones for covered points.
        ``metric``: "geodesic" (WGS84 meters, reference parity — the
        fixed-iteration Vincenty the SQL oracle mirrors) or "planar_deg"
        (planar degrees — bit-exact SQL-oracle-able ordering). A NULL, NaN or infinite coordinate yields []. The
        ``arrow_udf`` takes only lat/lon and returns piece ranks, mapped
        to names JVM-side; assign, Q5 and kNN share one ArrowEvalPython
        node. Each point runs one exact pass over its grid cell's
        candidate list, built at compile time for k up to
        ``probe.KNN_MAX_K`` (``probe.knn_zones_batch``).
        """
        if metric not in probemod.METRICS:
            # fail fast driver-side: a typo would otherwise surface as a
            # wrapped executor PythonException on the first batch
            raise ValueError(f"unknown metric: {metric!r}")
        bc = self._bc

        @F.arrow_udf(T.ArrayType(self._rank_t))
        def _knn(lat: pa.Array, lon: pa.Array) -> pa.Array:
            return probemod.knn_zones_batch(
                bc.value, probemod.arrow_f64(lat), probemod.arrow_f64(lon), k,
                metric=metric,
            )

        names = F.transform(
            _knn(*_lat_lon_args(lat_col, lon_col)),
            lambda r: F.element_at(self._zone_lit, r + 1),
        )
        # array<string> with nullable elements, the type it always had
        return df.withColumn(out_col, names.cast("array<string>"))

    # -- durable artifact ------------------------------------------------------

    def save_artifact(self, path: str) -> None:
        """Iceberg-style persistence: clipped zones as Parquet + JSON
        metadata sidecar with the version marker (reference B9 archive +
        version entry, Main.kt:112-161)."""
        self.zones().write.mode("overwrite").parquet(f"{path}/zones")
        indexmod.save_index_meta(path, self.idx)

    @classmethod
    def from_tar_archive(
        cls,
        spark: SparkSession,
        source,
        min_lat: float = -90.0,
        min_lon: float = -180.0,
        max_lat: float = 90.0,
        max_lon: float = 180.0,
        **kw,
    ) -> "TzEngine":
        """Build from a REFERENCE-FORMAT tar archive (version marker +
        FlatBuffers zone entries — the reference's actual on-disk
        contract, TimeZoneMap.kt:156-243 / Main.kt:100-141). ``source``
        is a path or binary stream. Version gate and IO-error contract
        carry the reference's exact messages."""
        from . import tararchive
        from .index import validate_region

        validate_region(min_lat, min_lon, max_lat, max_lon)
        map_version, pieces = tararchive.read_tar_archive(
            source, min_lat, min_lon, max_lat, max_lon
        )
        world_version = (
            map_version.split(":", 1)[1] if ":" in map_version else map_version
        )
        idx = indexmod.compile_index(
            pieces, min_lat, min_lon, max_lat, max_lon,
            world_version=world_version, **kw,
        )
        return cls(spark, idx)

    def save_tar_archive(self, path: str) -> None:
        """Write the engine's zone set in the reference archive layout
        (round-trips through ``from_tar_archive``).

        Rank-order parity across the round-trip is guaranteed only for
        FULL-WORLD engines: the tar format stores rings only (like the
        reference archive), so a reloaded engine re-sorts by the rings'
        post-clip area — a region-initialized engine whose clip changed
        piece areas can reorder overlapping zones. The Parquet artifact
        (``save_artifact``) carries the pre-clip areas and round-trips
        rank exactly for any region (ADVICE r2 #3)."""
        import warnings

        from . import tararchive

        if self.idx.init_region != (-90.0, -180.0, 90.0, 180.0):
            warnings.warn(
                "save_tar_archive on a region-initialized engine: the tar "
                "format stores clipped rings without pre-clip areas, so "
                "overlapping-zone order may change across a reload; use "
                "save_artifact for exact rank round-trips",
                stacklevel=2,
            )
        pieces = [
            ZonePiece(
                self.idx.zone_ids[rank],
                int(self.idx.polygon_ids[rank]),
                rank,
                self.idx.piece_rings(rank),
            )
            for rank in range(self.idx.n_pieces)
        ]
        tararchive.write_tar_archive(pieces, path, self.idx.version)

    @classmethod
    def from_artifact(
        cls, spark: SparkSession, path: str, depth: int = 5
    ) -> "TzEngine":
        """Load + version-gate (reference I3 — fails fast before any Spark
        job when the artifact format is incompatible), then recompile the
        index on executors from the artifact's zones table. The artifact
        stores PRE-clip areas (the reference's sort key) beside
        already-clipped rings; they are fed back as the sort key so the
        rank order survives the round-trip exactly."""
        meta = indexmod.load_index_meta(path)
        try:
            zones_df = spark.read.parquet(f"{path}/zones")
        except Exception as ex:  # reference I2 contract (TimeZoneMap.kt:240-242)
            raise RuntimeError(
                "Unable to read time zone data resource file"
            ) from ex
        world_version = meta["version"].split(":", 1)[1]
        return cls._compile_on_executors(
            spark,
            zones_df.withColumnRenamed("area_rank", "ordinal"),
            tuple(meta["init_region"]), world_version, depth,
            area_col="area_deg2",
        )
