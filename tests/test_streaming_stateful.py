"""Stateful streaming dedup: state persists across micro-batches."""

import pytest

from pyspark.sql import functions as F

from tzengine import streaming


def test_streaming_dedup_across_microbatches(spark, tmp_path):
    src = str(tmp_path / "src")
    # two files -> two micro-batches (maxFilesPerTrigger=1); ids overlap
    spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "phash long, image_id string"
    ).coalesce(1).write.parquet(src + "/f1")
    spark.createDataFrame(
        [(1, "a"), (1, "d"), (2, "c"), (3, "e")], "phash long, image_id string"
    ).coalesce(1).write.parquet(src + "/f2")
    # consolidate under one dir for the file source
    import shutil, os, glob

    os.makedirs(src + "/all")
    for i, f in enumerate(sorted(glob.glob(src + "/f*/part-*.parquet"))):
        shutil.copy(f, src + f"/all/{i:02d}.parquet")

    schema = "phash long, image_id string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/all")
    )
    out = streaming.streaming_dedup(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("select * from dedup_out").collect()
    finally:
        q.stop()
    got = sorted((r.phash, r.image_id) for r in rows)
    # duplicates ("a" under key 1, "c" under key 2) emitted exactly once
    assert got == [(1, "a"), (1, "b"), (1, "d"), (2, "c"), (3, "e")]


def test_streaming_dedup_ttl_expires_state(spark, tmp_path):
    # with a processing-time TTL, ids older than the TTL age out of state
    # and are re-emitted (bounded-state contract, VERDICT r1 #10)
    import time

    src = str(tmp_path / "ttl_src")
    import os

    os.makedirs(src)
    schema = "phash long, image_id string"
    spark.createDataFrame([(1, "a")], schema).coalesce(1).write.parquet(
        src + "/b0", mode="overwrite"
    )
    import glob, shutil

    os.makedirs(src + "/all")
    shutil.copy(glob.glob(src + "/b0/part-*.parquet")[0], src + "/all/00.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/all")
    )
    out = streaming.streaming_dedup(stream, ttl=500)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_ttl")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    def feed(name, rows_data):
        spark.createDataFrame(rows_data, schema).coalesce(1).write.parquet(
            src + f"/{name}", mode="overwrite"
        )
        shutil.copy(
            glob.glob(src + f"/{name}/part-*.parquet")[0],
            src + f"/all/{name}.parquet",
        )

    try:
        q.processAllAvailable()
        assert spark.sql("select * from dedup_ttl").count() == 1
        time.sleep(2.0)  # let the 500ms TTL lapse in processing time
        # key 1's entry for "a" is older than the TTL when the next batch
        # touches the key -> dropped from state, "a" re-emitted
        feed("b1", [(1, "a"), (1, "b")])
        q.processAllAvailable()
        rows = sorted(
            (r.phash, r.image_id)
            for r in spark.sql("select * from dedup_ttl").collect()
        )
    finally:
        q.stop()
    # "a" appears twice: once originally, once after its state expired
    assert rows == [(1, "a"), (1, "a"), (1, "b")]


def test_streaming_dedup_ttl_last_seen_refresh(spark, tmp_path):
    # an id that KEEPS arriving is never re-emitted: every arrival
    # refreshes its last-seen timestamp (code-review regression — the
    # first version expired by first-seen time)
    import glob
    import os
    import shutil
    import time

    src = str(tmp_path / "refresh_src")
    os.makedirs(src + "/all")
    schema = "phash long, image_id string"

    def feed(name, rows_data):
        spark.createDataFrame(rows_data, schema).coalesce(1).write.parquet(
            src + f"/{name}", mode="overwrite"
        )
        shutil.copy(
            glob.glob(src + f"/{name}/part-*.parquet")[0],
            src + f"/all/{name}.parquet",
        )

    feed("b0", [(1, "a")])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/all")
    )
    # generous margins: micro-batch latency is ~1-2s, so the gaps must
    # clear the TTL comparison on both sides
    out = streaming.streaming_dedup(stream, ttl=9000)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_refresh")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .start()
    )
    try:
        q.processAllAvailable()
        time.sleep(5.5)
        feed("b1", [(1, "a")])  # duplicate arrival refreshes last-seen
        q.processAllAvailable()
        time.sleep(5.5)  # ~11s+ since FIRST sight, ~5.5s since LAST
        feed("b2", [(1, "a"), (1, "b")])
        q.processAllAvailable()
        rows = sorted(
            (r.phash, r.image_id)
            for r in spark.sql("select * from dedup_refresh").collect()
        )
    finally:
        q.stop()
    # "a" emitted exactly once: first-seen expiry would have re-emitted
    # it at b2 (>11s > 9s ttl); last-seen keeps it alive (~5.5s < 9s)
    assert rows == [(1, "a"), (1, "b")]


def test_streaming_dedup_quiet_key_state_reclaimed(spark, tmp_path):
    """VERDICT r2 #8: a key that receives NO further traffic must still
    leave the state store — a maintenance tick (NULL id) sweeps its
    expired entries and removes the emptied key. Asserted on the state
    operator's own numRowsTotal metric, not just on output behavior."""
    import glob
    import os
    import shutil
    import time

    src = str(tmp_path / "quiet_src")
    os.makedirs(src + "/all")
    schema = "phash long, image_id string"

    def feed(name, rows_data):
        spark.createDataFrame(rows_data, schema).coalesce(1).write.parquet(
            src + f"/{name}", mode="overwrite"
        )
        shutil.copy(
            glob.glob(src + f"/{name}/part-*.parquet")[0],
            src + f"/all/{name}.parquet",
        )

    feed("b0", [(1, "a"), (2, "x")])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/all")
    )
    out = streaming.streaming_dedup(stream, ttl=500)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_quiet")
        .option("checkpointLocation", str(tmp_path / "ck_quiet"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("select * from dedup_quiet").count() == 2
        assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 2

        time.sleep(2.0)  # both keys go fully quiet past the 500ms TTL
        # maintenance ticks built from the sink's own distinct keys —
        # no data rows for either key, yet their state must be removed
        keys = spark.sql("select distinct phash from dedup_quiet")
        ticks = [(r.phash, None) for r in keys.collect()]
        feed("ticks", ticks)
        q.processAllAvailable()
        assert spark.sql("select * from dedup_quiet").count() == 2  # no emits
        assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 0
    finally:
        q.stop()


def test_streaming_assign_arrow_impl(spark, tmp_path):
    """The arrow_udf probe must also work inside Structured Streaming
    micro-batches — a streaming (lat, lon) source assigns the same
    zones the batch path does."""
    from pyspark.sql import functions as F

    from tzengine.engine import TzEngine
    from tzengine.zones import synthetic_world

    eng = TzEngine.for_everywhere(spark, synthetic_world(), world_version="s1")
    src = str(tmp_path / "pts")
    rows = [((i % 1987) / 200.0, (i * 7 % 1993) / 200.0) for i in range(500)]
    spark.createDataFrame(rows, "lat double, lon double").write.parquet(src)
    stream = spark.readStream.schema("lat double, lon double").parquet(src)
    out = eng.assign_timezones(stream, mode="pipeline")
    q = (
        out.writeStream.format("memory")
        .queryName("assign_arrow_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_arrow"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.lat, r.lon): r.tzid
            for r in spark.sql("select * from assign_arrow_stream").collect()
        }
    finally:
        q.stop()
    batch = {
        (r.lat, r.lon): r.tzid
        for r in eng.assign_timezones(
            spark.createDataFrame(rows, "lat double, lon double"),
            mode="pipeline",
        ).collect()
    }
    assert len(got) == len(batch) == 500
    assert got == batch
