"""Resumable-write protocol: commits, kill-and-resume, determinism."""

import json
import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from tzengine import tables
from tzengine.engine import TzEngine
from tzengine.fixtures import geo_images_df
from tzengine.zones import synthetic_world


@pytest.fixture(scope="module")
def assigned(spark):
    eng = TzEngine.for_everywhere(spark, synthetic_world(), world_version="synth1")
    df = geo_images_df(spark, 400, with_bytes=False, partitions=4)
    return eng.assign_timezones(df).select(
        "image_id", "lat", "lon", "tzid", "cell_id", "zone_shard"
    )


def test_full_write_and_readback(spark, assigned, tmp_path):
    out = str(tmp_path / "t1")
    snap = tables.write_resumable(assigned, out, input_lineage={"rows": 400})
    assert snap["complete"] and snap["total_rows"] == 400
    back = tables.read_table(spark, out)
    assert back.count() == 400
    # per-partition commit files carry lineage + metrics
    commits = os.listdir(os.path.join(out, "_commits"))
    assert len(commits) == snap["units"]
    c = json.load(open(os.path.join(out, "_commits", commits[0])))
    assert c["rows"] > 0 and c["lineage"] == {"rows": 400}
    assert os.path.exists(os.path.join(out, "_snapshot.json"))


def test_kill_and_resume_identical(spark, assigned, tmp_path):
    out_a = str(tmp_path / "killed")
    out_b = str(tmp_path / "clean")

    # run A: crash after 8 promoted units, then resume to completion
    with pytest.raises(tables.AbortForTest):
        tables.write_resumable(assigned, out_a, fail_after_units=8)
    partial = tables.committed_units(out_a)
    assert len(partial) == 8
    snap_a = tables.write_resumable(assigned, out_a)
    assert snap_a["complete"]

    # run B: single clean run
    snap_b = tables.write_resumable(assigned, out_b)
    assert snap_b["total_rows"] == snap_a["total_rows"] == 400

    # byte-level determinism of CONTENT: identical rows per partition
    a = tables.read_table(spark, out_a).orderBy("image_id").collect()
    b = tables.read_table(spark, out_b).orderBy("image_id").collect()
    assert a == b
    # tile assignment identical across the two runs (north_star)
    assert [r.zone_shard for r in a] == [r.zone_shard for r in b]


def test_resume_skips_committed_units(spark, assigned, tmp_path, capsys):
    out = str(tmp_path / "skip")
    tables.write_resumable(assigned, out)
    # tamper: delete one commit → only that unit is rewritten
    commits_dir = os.path.join(out, "_commits")
    victim = sorted(os.listdir(commits_dir))[0]
    os.remove(os.path.join(commits_dir, victim))
    before = tables.committed_units(out)
    snap = tables.write_resumable(assigned, out)
    assert snap["complete"]
    assert tables.committed_units(out) == before | {victim[len("commit_"):-len(".json")]}


def test_manifest_mismatch_rejected(spark, assigned, tmp_path):
    out = str(tmp_path / "mm")
    tables.write_resumable(assigned, out)
    # re-open a unit >= 10, then resume with input that can't produce it:
    # the pending unit never appears in staging -> mismatch
    commits_dir = os.path.join(out, "_commits")
    victim = next(
        c for c in sorted(os.listdir(commits_dir))
        if int(c[len("commit_"):-len(".json")]) >= 10
    )
    os.remove(os.path.join(commits_dir, victim))
    other = assigned.filter(F.col("zone_shard") < 10)
    with pytest.raises(ValueError, match="manifest mismatch"):
        tables.write_resumable(other, out)
    # different partition spec is rejected outright
    with pytest.raises(ValueError, match="manifest mismatch"):
        tables.write_resumable(assigned, out, partition_col="cell_id")


def test_uncommitted_partitions_invisible(spark, assigned, tmp_path):
    out = str(tmp_path / "inv")
    with pytest.raises(tables.AbortForTest):
        tables.write_resumable(assigned, out, fail_after_units=8)
    back = tables.read_table(spark, out)
    committed_rows = back.count()
    assert 0 < committed_rows < 400  # only committed units readable


def test_upstream_plan_evaluated_exactly_once(spark, tmp_path):
    # VERDICT r1 #3: the old protocol re-evaluated the upstream plan per
    # batch (writes + metrics + discovery = up to 9 passes). Count actual
    # evaluations with an accumulator inside the plan: must equal n_rows.
    out = str(tmp_path / "once")
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        acc.add(1)
        return x

    df = (
        spark.range(200)
        .withColumn("val", bump(F.col("id")))
        .withColumn("shard", (F.col("id") % 4).cast("int"))
    )
    snap = tables.write_resumable(df, out, partition_col="shard")
    assert snap["complete"] and snap["total_rows"] == 200
    assert acc.value == 200  # one evaluation, not 2x/9x


def test_null_partition_values_are_a_real_unit(spark, tmp_path):
    # ADVICE r1: NULL partition values must commit (Hive null-partition
    # unit), not be silently dropped leaving the snapshot incomplete
    out = str(tmp_path / "nulls")
    df = spark.createDataFrame(
        [(1, 0), (2, 0), (3, None), (4, 1), (5, None)],
        "id long, shard int",
    )
    snap = tables.write_resumable(df, out, partition_col="shard")
    assert snap["complete"] and snap["total_rows"] == 5
    assert tables.HIVE_NULL in tables.committed_units(out)
    back = tables.read_table(spark, out)
    assert back.count() == 5
    assert back.filter(F.col("shard").isNull()).count() == 2
    # resume is a no-op (idempotent with the null unit committed)
    snap2 = tables.write_resumable(df, out, partition_col="shard")
    assert snap2["complete"] and snap2["committed"] == snap["committed"]


def test_complete_table_rejects_different_input(spark, assigned, tmp_path):
    # resuming a COMPLETE table with different input must not silently
    # report success (code-review regression)
    out = str(tmp_path / "full_mm")
    tables.write_resumable(assigned, out)
    other = assigned.filter(F.col("zone_shard") < 10)
    with pytest.raises(ValueError, match="manifest mismatch"):
        tables.write_resumable(other, out)


def _pieces_to_rows(pieces) -> list[tuple]:
    """The historical nested-tuple zones rows: the reference the Arrow
    path is compared against."""
    f32 = lambda x: float(np.float32(x))  # noqa: E731
    rows = []
    for p in pieces:
        rings = [[(f32(v[1]), f32(v[0])) for v in r] for r in p.rings]
        lo_lon, lo_lat, hi_lon, hi_lat = p.bbox
        rows.append((p.zone_id, p.polygon_id, p.ordinal, rings,
                     f32(lo_lat), f32(lo_lon), f32(hi_lat), f32(hi_lon)))
    return rows


def test_pieces_to_df_arrow_path_row_identical(spark):
    """The Arrow-native pieces_to_df must be row-identical (values AND
    dtypes) to the historical nested-tuple row construction."""
    from tzengine.bigworld import big_world
    from tzengine.zones import pieces_to_df, synthetic_world

    zones_ddl = (
        "zone_id string, polygon_id int, ordinal int, "
        "rings array<array<struct<lat: float, lon: float>>>, "
        "min_lat float, min_lon float, max_lat float, max_lon float"
    )
    for world in (synthetic_world(), big_world(grid=4, verts=24)):
        fast = pieces_to_df(spark, world)
        slow = spark.createDataFrame(_pieces_to_rows(world), schema=zones_ddl)
        assert fast.schema == slow.schema
        a = fast.orderBy("ordinal").collect()
        b = slow.orderBy("ordinal").collect()
        assert a == b
