"""GeoJSON builder ETL + streaming wrappers + plan-pushdown assertions."""

import numpy as np
import pytest

from pyspark.sql import functions as F

from tzengine import geojson
from tzengine.engine import TzEngine
from tzengine.oracle import OracleMap
from tzengine.zones import pieces_to_df, synthetic_world


@pytest.fixture(scope="module")
def geojson_file(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("gj") / "world.geojson")
    geojson.world_to_geojson(synthetic_world(), path)
    return path


@pytest.fixture(scope="module")
def geojsonl_file(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("gj") / "world.geojsonl")
    geojson.world_to_geojson(synthetic_world(), path, jsonl=True)
    return path


def test_geojson_ingest_roundtrip(spark, geojson_file):
    df = geojson.zones_from_geojson(spark, geojson_file)
    rows = df.orderBy("ordinal").collect()
    world = synthetic_world()
    assert len(rows) == len(world)
    # MultiPolygon split: Zone/Multi appears as two pieces (Main.kt:89,93)
    assert [r.zone_id for r in rows].count("Zone/Multi") == 2
    # engine built from the ingested table matches the oracle exactly
    eng = TzEngine.for_everywhere(spark, df, world_version="synth1")
    oracle = OracleMap(world, -90, -180, 90, 180)
    pts = spark.createDataFrame(
        [(float(la), float(lo)) for la in np.arange(0.25, 10, 0.5)
         for lo in np.arange(0.25, 10, 0.5)],
        "lat double, lon double",
    )
    got = eng.assign_timezones(pts, mode="strict").collect()
    assert all(
        list(r.tzids) == oracle.get_overlapping_time_zones(r.lat, r.lon) for r in got
    )


def test_geojsonl_distributed_ingest_matches_driver(spark, geojson_file, geojsonl_file):
    a = geojson.zones_from_geojson(spark, geojson_file)
    b = geojson.zones_from_geojsonl(spark, geojsonl_file)
    ka = sorted(tuple(r) for r in a.select("zone_id", "polygon_id", "min_lat",
                                           "min_lon", "max_lat", "max_lon").collect())
    kb = sorted(tuple(r) for r in b.select("zone_id", "polygon_id", "min_lat",
                                           "min_lon", "max_lat", "max_lon").collect())
    assert ka == kb


def test_geojson_orientation_normalization(spark, tmp_path):
    # a CCW outer ring + CW hole (opposite of our storage convention) must
    # be normalized so the area sort key is right (builder B4 semantics)
    fc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"tzid": "Zone/X"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],  # CCW outer
                        [[1, 1], [1, 2], [2, 2], [2, 1], [1, 1]],  # CW hole
                    ],
                },
            }
        ],
    }
    import json as jsonlib

    p = str(tmp_path / "x.geojson")
    open(p, "w").write(jsonlib.dumps(fc))
    df = geojson.zones_from_geojson(spark, p)
    from probe_helpers import rows_to_pieces
    from tzengine import geom

    piece = rows_to_pieces(df.collect())[0]
    assert geom.polygon_area2d(piece.rings) == pytest.approx(16 - 1, abs=1e-6)
    assert geom.ring_signed_area(piece.rings[0]) < 0  # outer CW
    assert geom.ring_signed_area(piece.rings[1]) > 0  # hole CCW


def test_geojson_rejects_bad_geometry(spark, tmp_path):
    import json as jsonlib

    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"tzid": "Z"},
         "geometry": {"type": "Point", "coordinates": [1, 2]}}]}
    p = str(tmp_path / "bad.geojson")
    open(p, "w").write(jsonlib.dumps(fc))
    with pytest.raises(ValueError, match="unsupported geometry type"):
        geojson.zones_from_geojson(spark, p)


def test_zones_parquet_bbox_pushdown(spark, tmp_path):
    """The reference's deserialize-free envelope prune (O1) must appear as
    PushedFilters on the Parquet scan when loading zones for a region."""
    path = str(tmp_path / "zones_parquet")
    pieces_to_df(spark, synthetic_world()).write.parquet(path)
    zones = spark.read.parquet(path)
    pruned = zones.filter(
        ~(
            (F.col("max_lat") < F.lit(4.0))
            | (F.col("min_lat") > F.lit(5.0))
            | (F.col("max_lon") < F.lit(4.0))
            | (F.col("min_lon") > F.lit(5.0))
        )
    ).select("zone_id", "polygon_id")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan
    assert "max_lat" in plan.split("PushedFilters")[1][:200]
    # column pruning: rings (the wide column) must NOT be read
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "rings" not in read_schema


def test_probe_input_column_pruning(spark):
    """Only lat/lon reach Python: the image `bytes` column must not be
    shipped through the probe UDF (critical at image-payload widths)."""
    from tzengine.fixtures import geo_images_df

    eng = TzEngine.for_everywhere(spark, synthetic_world(), world_version="synth1")
    df = geo_images_df(spark, 50)
    out = eng.assign_timezones(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    arrow_line = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln][0]
    assert "lat" in arrow_line and "lon" in arrow_line
    assert "bytes" not in arrow_line


def test_streaming_assign_and_windowed_counts(spark, tmp_path):
    from tzengine import streaming
    from tzengine.fixtures import geo_images_df

    src_dir = str(tmp_path / "stream_src")
    (
        geo_images_df(spark, 200, with_bytes=False)
        .withColumn("ts", F.to_timestamp(F.lit("2026-01-01 00:00:00")))
        .write.parquet(src_dir)
    )
    eng = TzEngine.for_everywhere(spark, synthetic_world(), world_version="synth1")
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    assert stream.isStreaming

    agg = streaming.streaming_cell_counts(eng, stream, ts_col="ts")
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("tz_counts")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from tz_counts").collect()
    finally:
        q.stop()
    assert sum(r.n for r in rows) == 200
    assert {r.tzid for r in rows} >= {"Zone/Filler"}


def test_stream_to_resumable_sink(spark, tmp_path):
    from tzengine import streaming
    from tzengine.fixtures import geo_images_df

    src_dir = str(tmp_path / "s2")
    geo_images_df(spark, 100, with_bytes=False).write.parquet(src_dir)
    eng = TzEngine.for_everywhere(spark, synthetic_world(), world_version="synth1")
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = streaming.stream_to_resumable(eng, stream, out_dir, ckpt).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.parquet(out_dir)
    assert back.count() == 100
    assert "zone_shard" in back.columns and "tzid" in back.columns


def test_ordinal_base_advances_past_dropped_polygons(spark, tmp_path):
    # A MultiPolygon whose FIRST member is degenerate (dropped by cleanse)
    # must still advance the next feature's ordinal base by the DECLARED
    # polygon count — otherwise ordinals collide and the (area, ordinal)
    # tie-break becomes ambiguous.
    import json
    degenerate = [[[0.0, 0.0], [0.0, 0.0], [0.0, 0.0], [0.0, 0.0]]]
    kept = [[[1.0, 1.0], [2.0, 1.0], [2.0, 2.0], [1.0, 2.0], [1.0, 1.0]]]
    other = [[[5.0, 5.0], [6.0, 5.0], [6.0, 6.0], [5.0, 6.0], [5.0, 5.0]]]
    fc = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature", "properties": {"tzid": "A"},
             "geometry": {"type": "MultiPolygon",
                          "coordinates": [degenerate, kept]}},
            {"type": "Feature", "properties": {"tzid": "B"},
             "geometry": {"type": "Polygon", "coordinates": other}},
        ],
    }
    path = str(tmp_path / "drop.geojson")
    json.dump(fc, open(path, "w"))
    rows = geojson.zones_from_geojson(spark, path).orderBy("ordinal").collect()
    ords = [r.ordinal for r in rows]
    assert len(rows) == 2
    assert len(set(ords)) == 2  # globally unique
    assert ords == [1, 2]  # A's kept piece at base+1, B starts at base 2


def test_geojsonl_fallback_ordinal_is_content_hash(spark, tmp_path):
    # without feature_ordinal, the fallback must be a deterministic
    # content hash (crc32), not Python's salted str hash
    import json
    import zlib
    feat = {"type": "Feature", "properties": {"tzid": "Test/Zone"},
            "geometry": {"type": "Polygon",
                         "coordinates": [[[0.0, 0.0], [1.0, 0.0],
                                          [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]]}}
    path = str(tmp_path / "one.geojsonl")
    with open(path, "w") as f:
        f.write(json.dumps(feat) + "\n")
    rows = geojson.zones_from_geojsonl(spark, path).collect()
    # ADVICE r2 #4: hash of the WHOLE feature line, not the tzid — two
    # features sharing a tzid must not collide
    expected = zlib.crc32(json.dumps(feat).encode("utf-8")) % (1 << 30)
    assert [r.ordinal for r in rows] == [expected]

    # two distinct features with the SAME tzid -> distinct ordinals
    feat2 = dict(feat)
    feat2["geometry"] = {
        "type": "Polygon",
        "coordinates": [[[2.0, 2.0], [3.0, 2.0], [3.0, 3.0], [2.0, 3.0],
                         [2.0, 2.0]]],
    }
    path2 = str(tmp_path / "two.geojsonl")
    with open(path2, "w") as f:
        f.write(json.dumps(feat) + "\n")
        f.write(json.dumps(feat2) + "\n")
    ords = sorted(
        r.ordinal for r in geojson.zones_from_geojsonl(spark, path2).collect()
    )
    assert len(set(ords)) == 2


def test_compile_rejects_duplicate_ordinals(spark):
    # residual content-hash collisions must fail fast, not silently
    # corrupt the (area, ordinal) tie-break (ADVICE r2 #4)
    import pytest
    from tzengine import index
    from tzengine.engine import TzEngine
    from tzengine.zones import make_piece, _rect, pieces_to_df

    pieces = [
        make_piece("Zone/A", 0, 7, [_rect(0, 0, 1, 1)]),
        make_piece("Zone/B", 0, 7, [_rect(2, 2, 3, 3)]),
    ]
    with pytest.raises(ValueError, match="duplicate zone-piece ordinal"):
        index.compile_index(pieces, -90, -180, 90, 180, world_version="x")

    # the DataFrame (executor) compile: B's bbox touches the region edge,
    # so the pushdown keeps it, and its clip leaves no component — the
    # duplicate must still be caught
    pieces = [
        make_piece("Zone/A", 0, 7, [_rect(1, 1, 2, 2)]),
        make_piece("Zone/B", 0, 7, [_rect(10, 1, 11, 2)]),
    ]
    assert index.compile_source(pieces[1].rings, 0, 0, 10, 10) == []
    with pytest.raises(ValueError, match="duplicate zone-piece ordinal"):
        TzEngine.for_region(spark, pieces_to_df(spark, pieces), 0, 0, 10, 10,
                            world_version="x")


def test_geojson_self_intersecting_ring_repaired(spark, tmp_path):
    # a bowtie outer ring (classic invalid real-world GeoJSON) must be
    # untangled into its lobes at ingest (B4, OperatorSimplify analogue)
    import json
    bow = [[0.0, 0.0], [2.0, 2.0], [2.0, 0.0], [0.0, 2.0], [0.0, 0.0]]
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"tzid": "Zone/Bow"},
         "geometry": {"type": "Polygon", "coordinates": [bow]}},
        {"type": "Feature", "properties": {"tzid": "Zone/Back"},
         "geometry": {"type": "Polygon", "coordinates": [
             [[-1.0, -1.0], [4.0, -1.0], [4.0, 4.0], [-1.0, 4.0], [-1.0, -1.0]]]}},
    ]}
    path = str(tmp_path / "bow.geojson")
    json.dump(fc, open(path, "w"))
    df = geojson.zones_from_geojson(spark, path)
    rows = df.collect()
    bow_rows = [r for r in rows if r.zone_id == "Zone/Bow"]
    assert len(bow_rows) == 1 and len(bow_rows[0].rings) == 2  # two lobes
    eng = TzEngine.for_everywhere(spark, df, world_version="bow1")
    pts = spark.createDataFrame(
        [(1.0, 0.5), (1.0, 1.5), (1.8, 1.0), (3.0, 3.0)],
        "lat double, lon double",
    )
    got = {(r.lat, r.lon): r.tzid
           for r in eng.assign_timezones(pts, mode="strict").collect()}
    assert got[(1.0, 0.5)] == "Zone/Bow"   # left lobe (lon 0.5)
    assert got[(1.0, 1.5)] == "Zone/Bow"   # right lobe
    assert got[(1.8, 1.0)] == "Zone/Back"  # waist gap above the crossing
    assert got[(3.0, 3.0)] == "Zone/Back"


def test_geojsonl_duplicate_lines_collapsed_and_counted(spark, tmp_path):
    """Byte-identical duplicate feature lines are collapsed (lossless:
    same content-hash ordinal) but NOT silently: ``return_dup_counter``
    hands back an accumulator observable after an action (ADVICE r3
    #4)."""
    import json
    feat = {"type": "Feature", "properties": {"tzid": "Dup/Zone"},
            "geometry": {"type": "Polygon",
                         "coordinates": [[[0.0, 0.0], [1.0, 0.0],
                                          [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]]}}
    other = {"type": "Feature", "properties": {"tzid": "Other/Zone"},
             "geometry": {"type": "Polygon",
                          "coordinates": [[[5.0, 5.0], [6.0, 5.0],
                                           [6.0, 6.0], [5.0, 6.0], [5.0, 5.0]]]}}
    path = str(tmp_path / "dups.geojsonl")
    with open(path, "w") as f:
        f.write(json.dumps(feat) + "\n")
        f.write(json.dumps(feat) + "\n")   # dup 1
        f.write(json.dumps(feat) + "\n")   # dup 2
        f.write(json.dumps(other) + "\n")  # unique
    # explicit-handle API (ADVICE r4 #3): the counter survives
    # transformations
    df, dups = geojson.zones_from_geojsonl(spark, path, return_dup_counter=True)
    rows = df.select("zone_id").collect()
    assert sorted(r.zone_id for r in rows) == ["Dup/Zone", "Other/Zone"]
    assert dups.value == 2  # 3 copies -> 1 kept, 2 dropped

    # no duplicates -> counter stays 0
    path2 = str(tmp_path / "nodups.geojsonl")
    with open(path2, "w") as f:
        f.write(json.dumps(feat) + "\n")
        f.write(json.dumps(other) + "\n")
    df2, dups2 = geojson.zones_from_geojsonl(spark, path2, return_dup_counter=True)
    df2.collect()
    assert dups2.value == 0
