"""End-to-end Spark tests: broadcast-index join vs the oracle, DataFrame
(executor) compile parity, artifact round-trip + version gate, determinism."""

import sys

import numpy as np
import pytest

from pyspark.sql import functions as F

from tzengine.engine import TzEngine
from tzengine.oracle import OracleMap
from tzengine.zones import pieces_to_df, synthetic_world

from probe_helpers import deadline, run_isolated


@pytest.fixture(scope="module")
def world():
    return synthetic_world()


@pytest.fixture(scope="module")
def engine(spark, world):
    return TzEngine.for_everywhere(spark, world, world_version="synth1")


@pytest.fixture(scope="module")
def points_df(spark):
    rng = np.random.default_rng(42)
    n = 2000
    lats = rng.uniform(0.0, 10.0, n)
    lons = rng.uniform(0.0, 10.0, n)
    # sprinkle exact boundary / overlap / hole points (FIXTURES.md T1 mix)
    lats[:5], lons[:5] = 4.5, 4.5  # overlap
    lats[5:10], lons[5:10] = 1.8, 1.4  # hole
    lats[10:15], lons[10:15] = 1.0, 1.0  # corner
    rows = [(f"img{i:06d}", float(lats[i]), float(lons[i])) for i in range(n)]
    return spark.createDataFrame(rows, "image_id string, lat double, lon double")


def test_assign_matches_oracle(engine, world, points_df):
    oracle = OracleMap(world, -90, -180, 90, 180)
    got = engine.assign_timezones(points_df, mode="strict").collect()
    assert len(got) == points_df.count()
    mism = 0
    for r in got:
        want = oracle.get_overlapping_time_zones(r.lat, r.lon)
        if list(r.tzids) != want or r.tzid != (want[0] if want else None):
            mism += 1
    assert mism == 0  # exact zone-match rate = 100% (BASELINE.json metric)


def test_assign_plan_is_shuffle_free(engine, points_df):
    # the probe is a broadcast join: no Exchange in the physical plan
    out = engine.assign_timezones(points_df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "Python" in plan


def test_assign_odd_column_names_and_infinite_region(engine, world, spark):
    """The probe UDFs are inline (no temp columns), and every SQL string
    quotes names and bounds: an input carrying the old temp names, with
    a backtick and a dot in the lat/lon names, assigns exactly like the
    plain input; Q5 and kNN take the same names; and a region bound of
    -inf (accepted by validate_region) builds a valid SQL literal."""
    nan = float("nan")
    rows = [(4.5, 4.5), (0.5, 0.5), (1.8, 1.4), (11.0, 5.0), (nan, 1.0),
            (None, 1.0)]
    plain = spark.createDataFrame(rows, "lat double, lon double")
    odd = plain.select(
        F.col("lat").alias("la`t"), F.col("lon").alias("lo.n"),
        F.lit(1).alias("__tz"), F.lit(2).alias("__tz_all"),
        F.lit(3).alias("__tz_valid"),
    )
    names = dict(lat_col="la`t", lon_col="lo.n")
    cols = ["tzid", "tzids", "cell_id", "zone_shard", "in_region"]

    def picked(df, *c):
        return [tuple(r[k] for k in c) for r in df.collect()]

    want = picked(engine.assign_timezones(plain), *cols)
    got = engine.assign_timezones(odd, **names)
    assert picked(got, *cols) == want
    assert picked(got, "__tz", "__tz_all", "__tz_valid") == [(1, 2, 3)] * 6
    assert picked(
        engine.assign_timezones(odd, include_all=False, **names), "tzid"
    ) == [w[:1] for w in want]

    def q5(df, **kw):
        return engine.distance_from_boundary(engine.assign_timezones(df, **kw), **kw)

    assert picked(q5(odd, **names), "boundary_dist_m") == picked(
        q5(plain), "boundary_dist_m")
    assert picked(engine.knn_zones(odd, k=2, **names), "nearest_tzids") == picked(
        engine.knn_zones(plain, k=2), "nearest_tzids")

    inf_region = TzEngine.for_region(
        spark, world, float("-inf"), -180.0, 90.0, 180.0,
        world_version="synth1",
    )
    assert picked(inf_region.assign_timezones(plain), *cols) == want


def test_deterministic_across_runs(engine, points_df):
    a = engine.assign_timezones(points_df).orderBy("image_id").collect()
    b = engine.assign_timezones(points_df).orderBy("image_id").collect()
    assert a == b
    # cell/shard assignment is a pure function of the row (north_star)
    assert all(r.cell_id == s.cell_id and r.zone_shard == s.zone_shard
               for r, s in zip(a, b))


def test_distributed_compile_parity(spark, world, points_df, engine):
    # a zones DataFrame compiles on executors in ONE action (the collect
    # of the mapInArrow; AQE runs its shuffle map stage as a job of its
    # own), persists nothing, and assigns exactly like the driver compile
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    zones_df = pieces_to_df(spark, world)
    jobs0, cached0 = dag.numTotalJobs(), len(sc._jsc.getPersistentRDDs())
    dist_engine = TzEngine.for_everywhere(
        spark, zones_df, world_version="synth1"
    )
    assert dag.numTotalJobs() - jobs0 <= 2
    assert len(sc._jsc.getPersistentRDDs()) == cached0
    a = engine.assign_timezones(points_df).orderBy("image_id").collect()
    b = dist_engine.assign_timezones(points_df).orderBy("image_id").collect()
    assert a == b


def test_zones_accessor_rank_order(engine):
    rows = engine.zones().orderBy("area_rank").collect()
    assert [r.zone_id for r in rows] == [
        "Zone/Enclave", "Zone/SquareIsland", "Zone/Small", "Zone/Multi",
        "Zone/Multi", "Zone/Host", "Zone/Big", "Zone/Filler",
    ]
    areas = [r.area_deg2 for r in rows]
    assert areas == sorted(areas)


def test_artifact_roundtrip_and_version_gate(spark, engine, points_df, tmp_path):
    path = str(tmp_path / "tzindex")
    engine.save_artifact(path)
    loaded = TzEngine.from_artifact(spark, path)
    assert loaded.map_version == engine.map_version
    a = engine.assign_timezones(points_df).orderBy("image_id").collect()
    b = loaded.assign_timezones(points_df).orderBy("image_id").collect()
    assert a == b

    # corrupt the version marker → fail fast (reference I3 contract)
    import json, os
    meta_file = os.path.join(path, "_index_meta.json")
    meta = json.load(open(meta_file))
    meta["version"] = "999:synth1"
    json.dump(meta, open(meta_file, "w"))
    with pytest.raises(ValueError, match="Incompatible map archive"):
        TzEngine.from_artifact(spark, path)


def test_strict_mode_out_of_region_raises(spark, world):
    scoped = TzEngine.for_region(spark, world, 4, 4, 5, 5, world_version="synth1")
    df = spark.createDataFrame([(5.5, 4.5)], "lat double, lon double")
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    with pytest.raises((Py4JJavaError, PythonException), match="outside the initialized area"):
        scoped.assign_timezones(df, mode="strict").collect()
    # pipeline mode: null tzid instead
    row = scoped.assign_timezones(df, mode="pipeline").collect()[0]
    assert row.tzid is None


def test_distance_and_knn_ops(engine, spark):
    df = spark.createDataFrame(
        [(float(np.float32(1.5)), float(np.float32(1.999)))], "lat double, lon double"
    )
    out = engine.assign_timezones(df)
    out = engine.distance_from_boundary(out)
    row = out.collect()[0]
    assert row.tzid == "Zone/SquareIsland"
    assert row.boundary_dist_m == pytest.approx(111.286, abs=0.001)

    knn = engine.knn_zones(spark.createDataFrame([(4.5, 6.5)], "lat double, lon double"), k=3)
    # Filler contains the point (0 m); Big is 0.5 deg away; Small 1.5 deg
    assert knn.collect()[0].nearest_tzids == ["Zone/Filler", "Zone/Big", "Zone/Small"]


def test_artifact_io_error(spark, tmp_path):
    # reference I2: unreadable archive → "Unable to read time zone data
    # resource file" (meta present, data missing)
    import json, os
    path = str(tmp_path / "broken")
    os.makedirs(path)
    json.dump({"version": "1:synth1", "init_region": [0, 0, 1, 1]},
              open(os.path.join(path, "_index_meta.json"), "w"))
    with pytest.raises(RuntimeError, match="Unable to read time zone data"):
        TzEngine.from_artifact(spark, path)


def test_pipeline_violations_counter(spark, world):
    from tzengine.functions import pipeline_violations

    scoped = TzEngine.for_region(spark, world, 4, 4, 5, 5, world_version="synth1")
    df = spark.createDataFrame(
        [(4.5, 4.5), (9.0, 9.0), (4.2, 4.8), (0.0, 0.0)], "lat double, lon double"
    ).coalesce(2)
    out = scoped.assign_timezones(df, mode="pipeline")
    stats = pipeline_violations(out).collect()
    assert sum(r.n_rows for r in stats) == 4
    assert sum(r.n_violations for r in stats) == 2


def test_uncovered_in_region_point_is_not_a_violation(spark, world):
    from tzengine.functions import pipeline_violations

    # region extends past the zone world (lat/lon 0..10): (11,11) is
    # in-region but covered by no zone -> tzid null, in_region true,
    # NOT a violation; (13,13) is out-of-region -> violation
    eng = TzEngine.for_region(spark, world, 0, 0, 12, 12, world_version="synth1")
    df = spark.createDataFrame(
        [(5.0, 5.0), (11.0, 11.0), (13.0, 13.0)], "lat double, lon double"
    ).coalesce(1)
    out = eng.assign_timezones(df, mode="pipeline").collect()
    by_lat = {r.lat: r for r in out}
    assert by_lat[5.0].tzid is not None and by_lat[5.0].in_region
    assert by_lat[11.0].tzid is None and by_lat[11.0].in_region
    assert by_lat[13.0].tzid is None and not by_lat[13.0].in_region
    stats = pipeline_violations(
        eng.assign_timezones(
            spark.createDataFrame(
                [(5.0, 5.0), (11.0, 11.0), (13.0, 13.0)],
                "lat double, lon double",
            ).coalesce(1),
            mode="pipeline",
        )
    ).collect()
    assert sum(r.n_violations for r in stats) == 1


def test_include_all_false_q1_only_path(spark, world):
    eng = TzEngine.for_everywhere(spark, world, world_version="synth1")
    df = spark.createDataFrame(
        [(4.5, 4.5), (0.5, 0.5), (3.5, 5.5)], "lat double, lon double"
    )
    full = eng.assign_timezones(df, mode="strict").orderBy("lat").collect()
    q1 = eng.assign_timezones(df, mode="strict", include_all=False).orderBy(
        "lat"
    ).collect()
    assert "tzids" not in q1[0].asDict()
    assert [r.tzid for r in q1] == [r.tzid for r in full]
    assert [r.cell_id for r in q1] == [r.cell_id for r in full]
    assert [r.zone_shard for r in q1] == [r.zone_shard for r in full]


def test_planar_distance_metric(spark, world):
    import numpy as np
    from tzengine import geom

    eng = TzEngine.for_everywhere(spark, world, world_version="synth1")
    df = spark.createDataFrame(
        [(4.5, 4.5), (0.5, 0.5)], "lat double, lon double"
    )
    out = eng.assign_timezones(df, mode="strict")
    planar = {r.lat: r.d for r in eng.distance_from_boundary(
        out, mode="strict", metric="planar_deg", out_col="d").collect()}
    meters = {r.lat: r.d for r in eng.distance_from_boundary(
        out, mode="strict", out_col="d").collect()}
    # (4.5,4.5) in Zone/Small (4..5): planar 0.5 deg exactly
    assert planar[4.5] == 0.5
    # geodesic = one of the four equidistant planar-nearest candidates
    # (argmin tie picks a segment; lat- vs lon-edge geodesics differ)
    cands = [
        float(geom.geodesic_distance_wgs84(4.5, 4.5, la, lo)[0])
        for la, lo in [(4.0, 4.5), (5.0, 4.5), (4.5, 4.0), (4.5, 5.0)]
    ]
    assert any(meters[4.5] == pytest.approx(c, rel=1e-9) for c in cands)


def test_cell_of_expr_matches_numpy_cell_of(spark):
    # the JVM-side Morton encode (engine.cell_of_expr) must be value-
    # identical to cells.cell_of — same double quantization (CAST
    # truncates toward zero like astype(int64)), same interleave —
    # including the closed upper edges and both hemispheres
    import numpy as np
    from tzengine import cells
    from tzengine.engine import cell_of_expr
    from pyspark.sql import functions as F

    lats = np.array([-90.0, -89.999, -45.5, -1e-9, 0.0, 0.703125, 37.77,
                     59.2, 89.999, 90.0])
    lons = np.array([-180.0, -179.9, -122.42, -1e-9, 0.0, 1.40625, 13.4,
                     121.47, 179.9, 180.0])
    rows = [(float(la), float(lo)) for la in lats for lo in lons]
    df = spark.createDataFrame(rows, "lat double, lon double")
    for res in (0, 1, 7, 13):
        got = [
            r.c
            for r in df.select(
                cell_of_expr("lat", "lon", res).alias("c")
            ).collect()
        ]
        la = np.array([r[0] for r in rows])
        lo = np.array([r[1] for r in rows])
        exp = cells.cell_of(lo, la, res).astype(np.int64).tolist()
        assert got == exp, res


def test_one_vertex_rings_match_oracle(spark, world):
    """A 1-vertex ring adds no boundary segment: a piece holding two of
    them beside two real rings gets the OracleMap's assign, Q5 and kNN
    output, and zones() exports all four rings (every coordinate here
    sits on the float32 grid, so they read back exactly)."""
    from tzengine import geom, probe
    from tzengine.oracle import (
        distance_from_boundary, planar_distance_from_boundary,
    )
    from tzengine.zones import make_piece

    rings = [
        [(6.25, 1.25)],
        [(7.0, 1.0), (7.0, 2.0), (6.0, 2.0), (6.0, 1.0)],
        [(8.75, 8.75)],
        [(9.5, 0.5), (9.5, 1.0), (9.0, 1.0), (9.0, 0.5)],
    ]
    dotted = make_piece("Zone/Dotted", 0, 99, rings)
    pieces = list(world) + [dotted]
    eng = TzEngine.for_everywhere(spark, pieces, world_version="dotted1")
    idx = eng.idx
    oracle = OracleMap(pieces, -90, -180, 90, 180)

    g = np.array([0.5, 1.0, 1.25, 1.5, 2.0, 4.5, 6.25, 8.75, 9.25, 9.5])
    lat_g, lon_g = np.meshgrid(g, g)
    lats, lons = lat_g.ravel(), lon_g.ravel()
    offs, ranks, _ = probe.probe_ranks(idx, lats, lons, mode="strict")
    got = [[idx.zone_ids[r] for r in ranks[offs[i]:offs[i + 1]]]
           for i in range(len(lats))]
    want = [oracle.get_overlapping_time_zones(la, lo)
            for la, lo in zip(lats, lons)]
    assert got == want
    assert any("Zone/Dotted" in w for w in want)

    pts = np.stack([lons, lats], axis=1)
    for metric, dist_fn in (("geodesic", distance_from_boundary),
                            ("planar_deg", planar_distance_from_boundary)):
        zones = [("Zone/Dotted", w[0] if w else None, None)[i % 3]
                 for i, w in enumerate(want)]
        q5 = probe.distance_from_boundary_batch(
            idx, zones, lats, lons, mode="pipeline", metric=metric
        )
        q5_want = [oracle.get_distance_from_boundary(z, la, lo, metric)
                   for z, la, lo in zip(zones, lats, lons)]
        assert np.array_equal(q5, q5_want, equal_nan=True)

        # the reference kNN order over the oracle's own (rank-ordered)
        # entries: distance 0 inside, else the boundary distance
        dist = np.stack([
            np.where(geom.contains_inclusive(pts, rs), 0.0,
                     dist_fn(pts, rs))
            for _zid, rs in oracle.entries
        ], axis=1)
        knn_want = []
        for row in dist:
            names = []
            for e in np.lexsort((np.arange(len(row)), row)):
                zid = oracle.entries[e][0]
                if zid not in names and len(names) < 3:
                    names.append(zid)
            knn_want.append(names)
        knn = probe.knn_zones_batch(idx, lats, lons, 3, metric=metric)
        assert [[idx.zone_ids[r] for r in row]
                for row in knn.to_pylist()] == knn_want

    row = eng.zones().where(F.col("zone_id") == "Zone/Dotted").collect()[0]
    assert [[(v.lat, v.lon) for v in ring] for ring in row.rings] == rings


def test_ensure_shipped_shares_one_zip_per_source(tmp_path):
    """Two driver processes of the same code register the same zip, named
    by the sources' hash, leave nothing else in the temp dir, and the
    zip carries an importable tzengine."""
    import os
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stub = (
        "from tzengine import session\n"
        "class Context:\n"
        "    def addPyFile(self, path):\n"
        "        print(path)\n"
        "class Spark:\n"
        "    sparkContext = Context()\n"
        "session.ensure_shipped(Spark())\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    shipped = [
        subprocess.run(
            [sys.executable, "-c", stub], cwd=root, env=env,
            capture_output=True, text=True, timeout=120, check=True,
        ).stdout.split()
        for _ in range(2)
    ]
    assert shipped[0] == shipped[1] and len(shipped[0]) == 1
    zip_path = shipped[0][0]
    assert os.listdir(tmp_path) == [os.path.basename(zip_path)]
    assert os.path.dirname(zip_path) == str(tmp_path)
    imported = subprocess.run(
        [sys.executable, "-c", "import tzengine; print(tzengine.__file__)"],
        cwd=tmp_path, env=dict(env, PYTHONPATH=zip_path),
        capture_output=True, text=True, timeout=120, check=True,
    ).stdout.strip()
    assert imported == os.path.join(zip_path, "tzengine", "__init__.py")


def test_zones_accessor_int32_offset_overflow_guard(engine):
    """Arrow list<> offsets are int32; past 2^31 vertices .astype would
    silently WRAP (ADVICE r3 #3) — zones() must fail fast instead."""
    import dataclasses

    import numpy as np
    import pytest

    big_idx = dataclasses.replace(
        engine.idx,
        # one ring of 2^31 vertices plus its closing copy
        coord_offsets=np.array([0, np.iinfo(np.int32).max + 2],
                               dtype=np.int64),
    )
    big_engine = type(engine)(engine.spark, big_idx)
    with pytest.raises(ValueError, match="int32 list-offset"):
        big_engine.zones()


def test_jvm_validity_expr_matches_kernel_semantics(spark, world):
    """Round 6: the scalar probe no longer ships the valid flag — the
    engine re-derives it JVM-side from the region bounds. The parsed
    expression must reproduce numpy's comparison semantics on every
    edge: NaN coordinates (SQL ranks NaN above all values where numpy
    compares False — guarded by isnan), NULL coordinates (must read
    invalid like the NaN they become across the Arrow boundary —
    guarded by coalesce), exact region-border points (inclusive), and
    one-ULP-outside points (rejected)."""
    eng = TzEngine.for_region(
        spark, world, 0.0, 0.0, 10.0, 10.0, world_version="synth1"
    )
    ulp_out = float(np.nextafter(10.0, 11.0))
    rows = [
        (5.0, 5.0, True),            # interior
        (0.0, 0.0, True),            # region corner, inclusive
        (10.0, 10.0, True),          # opposite corner, inclusive
        (ulp_out, 5.0, False),       # one ULP outside
        (5.0, ulp_out, False),
        (float("nan"), 5.0, False),  # NaN lat
        (5.0, float("nan"), False),  # NaN lon
        (None, 5.0, False),          # NULL lat
        (5.0, None, False),          # NULL lon
        (11.0, 5.0, False),          # plainly outside
    ]
    df = spark.createDataFrame(
        [(la, lo) for la, lo, _ in rows], "lat double, lon double"
    )
    for include_all in (True, False):
        got = eng.assign_timezones(
            df, mode="pipeline", include_all=include_all
        ).collect()
        for (la, lo, want), r in zip(rows, got):
            assert r.in_region == want, (la, lo, include_all, r)
            if not want:
                assert r.tzid is None and r.cell_id is None, (la, lo, r)


def test_split_probe_udf_pruning_and_collapse(spark, world):
    """Round 6: tzid and tzids ride separate scalar UDFs so column
    pruning can drop the rank-list kernel for tzid-only consumers; a
    consumer selecting both must still pay ONE ArrowEvalPython node
    (Spark collapses same-level Python UDFs, so lat/lon cross once)."""
    eng = TzEngine.for_everywhere(spark, world, world_version="synth1")
    df = spark.range(100).selectExpr(
        "cast(id % 100 as double) / 10 as lat",
        "cast(id % 97 as double) / 10 as lon",
    )
    out = eng.assign_timezones(df, mode="strict")

    def plan(d):
        return d._jdf.queryExecution().executedPlan().toString()

    p_tzid = plan(out.groupBy("tzid").count())
    assert "_probe_first" in p_tzid and "_probe_all" not in p_tzid
    p_both = plan(out.select("tzid", "tzids"))
    assert "_probe_first" in p_both and "_probe_all" in p_both
    # one ArrowEvalPython node carrying both UDFs (node named once in
    # the tree; both UDFs listed in its arguments)
    import re

    nodes = re.findall(r"ArrowEvalPython \[([^]]*)\]", p_both)
    assert len(nodes) == 1 and "_probe_first" in nodes[0] and "_probe_all" in nodes[0]
    p_tzids = plan(out.select("tzids"))
    assert "_probe_all" in p_tzids and "_probe_first" not in p_tzids


def _collect_within(df, seconds):
    """collect() that cancels the Spark jobs, failing the test, when they
    run longer than ``seconds`` (a hung Python worker would otherwise
    stall the suite)."""
    import threading

    sc = df.sparkSession.sparkContext
    timer = threading.Timer(seconds, sc.cancelAllJobs)
    timer.start()
    try:
        return df.collect()
    finally:
        timer.cancel()


def test_distance_and_knn_null_and_infinite_rows(engine, spark):
    inf = float("inf")
    df = spark.createDataFrame(
        [(0, 4.5, 4.5), (1, None, 1.0), (2, 1.0, None), (3, inf, 2.0),
         (4, 4.5, -inf), (5, float("nan"), 3.0)],
        "i int, lat double, lon double",
    )
    out = engine.knn_zones(
        engine.distance_from_boundary(engine.assign_timezones(df)), k=3
    )
    rows = sorted(_collect_within(out, 120), key=lambda r: r.i)
    assert rows[0].nearest_tzids == ["Zone/Small", "Zone/Big", "Zone/Filler"]
    assert rows[0].boundary_dist_m > 0
    for r in rows[1:]:
        assert r.tzid is None and r.boundary_dist_m is None, r
        assert r.nearest_tzids == [], r


def test_distance_zone_codes_null_and_unknown(engine, spark, world):
    df = spark.createDataFrame(
        [(0, "Zone/Small", 4.5, 4.5), (1, None, 4.5, 4.5),
         (2, "Zone/Nowhere", 4.5, 4.5), (3, "O'Brien", 4.5, 4.5),
         (4, "Zone/Multi", 4.5, 4.5)],
        "i int, zone string, lat double, lon double",
    )
    got = {
        r.i: r.d for r in engine.distance_from_boundary(
            df, zone_col="zone", out_col="d", metric="planar_deg"
        ).collect()
    }
    assert got[0] == pytest.approx(0.5)
    assert got[1] is None and got[2] is None and got[3] is None
    assert got[4] is None  # Multi's pieces do not contain the point
    # (4.5, 4.5) lies in Small, Big and Filler: the requested zone is
    # picked, not the tzid, bit-for-bit the per-piece oracle's value
    oracle = OracleMap(world, -90, -180, 90, 180)
    for metric in ("planar_deg", "geodesic"):
        for zone in ("Zone/Big", "Zone/Filler"):
            picked = engine.distance_from_boundary(
                df.filter("i = 0").withColumn("zone", F.lit(zone)),
                zone_col="zone", out_col="d", metric=metric,
            ).collect()[0].d
            assert picked == oracle.get_distance_from_boundary(
                zone, 4.5, 4.5, metric
            ), (zone, metric)
            assert picked != oracle.get_distance_from_boundary(
                "Zone/Small", 4.5, 4.5, metric
            )
    # strict: a NULL zone is no error, an unknown or wrong zone is
    strict = engine.distance_from_boundary(
        df.filter("i < 2"), zone_col="zone", mode="strict"
    ).collect()
    assert len(strict) == 2
    for bad in (2, 4):
        with pytest.raises(Exception, match="inside the time zone"):
            engine.distance_from_boundary(
                df.filter(f"i = {bad}"), zone_col="zone", mode="strict"
            ).collect()


def _arrow_eval_nodes(df):
    """(evalType, UDF return types) of each ArrowEvalPython node in the
    physical plan."""
    stack, nodes = [df._jdf.queryExecution().executedPlan()], []
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if name == "ArrowEvalPythonExec":
            udfs = node.udfs()
            nodes.append((
                node.evalType(),
                [udfs.apply(i).dataType().simpleString()
                 for i in range(udfs.size())],
            ))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


@pytest.mark.parametrize("include_all", [False, True])
def test_assign_distance_knn_plan_one_arrow_node_no_strings(
    engine, spark, include_all
):
    """assign -> distance_from_boundary -> knn_zones crosses into Python
    once: Q5 and kNN take only lat/lon, so both join the probe's node
    (Q5's zone is picked JVM-side). Every UDF is an arrow_udf and none
    returns a string."""
    from pyspark.util import PythonEvalType

    df = spark.createDataFrame([(4.5, 4.5)], "lat double, lon double")
    # assign alone: one node, one UDF per consumed rank column, and the
    # tzid expression's repeated probe call is evaluated once
    assigned = engine.assign_timezones(df, include_all=include_all)
    nodes = _arrow_eval_nodes(assigned)
    assert len(nodes) == 1, nodes
    assert len(nodes[0][1]) == (2 if include_all else 1), nodes
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" not in plan
    out = engine.knn_zones(
        engine.distance_from_boundary(
            engine.assign_timezones(df, include_all=include_all)
        ),
        k=3,
    )
    nodes = _arrow_eval_nodes(out)
    assert len(nodes) == 1, nodes
    eval_type, types = nodes[0]
    assert eval_type == PythonEvalType.SQL_SCALAR_ARROW_UDF, nodes
    assert not any("string" in t for t in types), nodes
    assert len(types) == (4 if include_all else 3), nodes
    assert out.schema["nearest_tzids"].dataType.simpleString() == "array<string>"
    assert out.schema["nearest_tzids"].dataType.containsNull
    assert out.schema["boundary_dist_m"].dataType.simpleString() == "double"


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython 3.13 re-reads zip directories lazily")
def test_zip_directory_reread_hook_semantics():
    """Once tzengine is imported inside a Spark task,
    ``importlib.invalidate_caches()`` re-reads a zip on ``sys.path`` only
    after it changed; imported outside a task, tzengine leaves
    ``zipimporter.invalidate_caches`` as it is."""
    code = """
import importlib, os, sys, tempfile, zipfile, zipimport

path = os.path.join(tempfile.mkdtemp(), "mods.zip")
with zipfile.ZipFile(path, "w") as zf:
    zf.writestr("zmod_a.py", "A = 1\\n")
sys.path.insert(0, path)
import zmod_a

stock = zipimport.zipimporter.invalidate_caches
import pyspark
import tzengine
assert zipimport.zipimporter.invalidate_caches is stock, "patched outside a task"

from pyspark import TaskContext
TaskContext._getOrCreate()
tzengine._reread_changed_zips_only()
assert zipimport.zipimporter.invalidate_caches is not stock

reads = []
read_directory = zipimport._read_directory
def counting(archive):
    reads.append(archive)
    return read_directory(archive)
zipimport._read_directory = counting

for _ in range(3):
    importlib.invalidate_caches()
assert reads == [], reads

mtime_ns = os.stat(path).st_mtime_ns
with zipfile.ZipFile(path, "w") as zf:
    zf.writestr("zmod_a.py", "A = 1\\n")
    zf.writestr("zmod_b.py", "B = 2\\n")
os.utime(path, ns=(mtime_ns + 10**9, mtime_ns + 10**9))
importlib.invalidate_caches()
assert reads == [path], reads
import zmod_b
assert zmod_b.B == 2
importlib.invalidate_caches()
assert reads == [path], reads

os.remove(path)  # stat fails: the stock method runs
importlib.invalidate_caches()
assert reads == [path, path], reads
os.rmdir(os.path.dirname(path))
"""
    run_isolated(code)


def test_spark_worker_rereads_no_unchanged_zip(spark):
    """In a real Python worker, after ``import tzengine`` the per-task
    ``importlib.invalidate_caches()`` reads no zip directory."""
    from tzengine.session import ensure_shipped

    ensure_shipped(spark)

    @F.arrow_udf("long")
    def zip_reads(col):
        import importlib
        import zipimport

        from tzengine.arrowio import arrow_array

        importlib.invalidate_caches()
        n_zips = sum(isinstance(i, zipimport.zipimporter)
                     for i in sys.path_importer_cache.values())
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return arrow_array(np.full(len(col), len(reads) if n_zips else -1))

    df = spark.range(8, numPartitions=4)
    with deadline(120):
        got = {r.n for r in df.select(zip_reads("id").alias("n")).collect()}
    assert got == {0}, got


def test_get_spark_warms_workers_on_a_session_of_its_own():
    """``get_spark`` starts one background warm-up query per SparkContext,
    on a session of its own: ``spark.stop()`` during it ends it quietly;
    a listener on the returned session sees no event from it; a second
    ``get_spark`` starts no second one; and a later Arrow UDF finds
    ``tzengine.probe`` already imported in its Python workers."""
    code = """
import sys, threading, time
import pyarrow as pa
from pyspark import SparkContext
from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql import functions as F, types as T
from tzengine.arrowio import arrow_array
from tzengine.session import get_spark

def warm_threads():
    return [t for t in threading.enumerate() if t.name == "tzengine-warm-up"]

spark = get_spark("warm-up", master="local[2]")
thread = spark.sparkContext._tzengine_warm_up
spark.stop()
thread.join(60)
assert not thread.is_alive(), "the warm-up outlived spark.stop()"

class Listener:
    def __init__(self):
        self.plans = []
    def onSuccess(self, func_name, qe, duration_ns):
        self.plans.append(qe.analyzed().toString())
    def onFailure(self, func_name, qe, exc):
        self.plans.append("failed")
    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

spark = get_spark("warm-up", master="local[2]")
listener = Listener()
ensure_callback_server_started(SparkContext._gateway)
spark._jsparkSession.listenerManager().register(listener)
thread = spark.sparkContext._tzengine_warm_up
assert thread.is_alive(), "get_spark waited for the warm-up"
assert get_spark("warm-up", master="local[2]") is spark
assert spark.sparkContext._tzengine_warm_up is thread
assert warm_threads() == [thread], warm_threads()
thread.join(60)
assert not thread.is_alive()
assert listener.plans == [], listener.plans

def probe_loaded(ids: pa.Array) -> pa.Array:
    import numpy as np
    return arrow_array(np.full(len(ids), "tzengine.probe" in sys.modules))

loaded = F.arrow_udf(probe_loaded, T.BooleanType())
rows = spark.range(2, numPartitions=2).select(loaded("id").alias("own_query")).collect()
assert [r.own_query for r in rows] == [True, True], rows
t0 = time.monotonic()
while not any("own_query" in p for p in listener.plans) and time.monotonic() - t0 < 30:
    time.sleep(0.05)
assert len(listener.plans) == 1 and "own_query" in listener.plans[0], listener.plans
assert warm_threads() == []
spark.stop()
"""
    with deadline(90):
        run = run_isolated(code)
    assert "Traceback" not in run.stderr, run.stderr[-2000:]
