"""One benchmark session, in its own process.

Starts Spark on ``local[4]``, builds the workload's engine, then runs
jobs in a closed loop with one client: each job builds a fresh
DataFrame, runs one action, and has its output checked before the next
job starts. With tracing on it also times each layer and reads Spark's
SQL metrics. ``run.py`` starts this process and reads the result file:

    python3 perfbench/worker.py <work_dir>/config.json
"""

from __future__ import annotations

import json
import math
import os
import pickle
import shutil
import statistics
import sys
import threading
import time
import traceback
from types import SimpleNamespace

import numpy as np
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import ActionMetrics, Tracer, instrument  # noqa: E402

REGION = (-90.0, -180.0, 90.0, 180.0)
WARMUP_JOBS = 1


class JobFailed(Exception):
    pass


def spark_conf(work: str) -> dict:
    """Keep every file Spark writes inside the work directory."""
    return {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


# -- jobs --------------------------------------------------------------------
# Each returns the job's output, which ``check`` compares with the
# reference answers and with the first job's output.


def job_histogram(s, i):
    df = s.spark.read.parquet(s.input_path)
    out = s.eng.assign_timezones(df, include_all=False)
    with s.tracer.span("spark.collect"):
        rows = out.groupBy("tzid").count().collect()
    return {r["tzid"]: r["count"] for r in rows}


def job_nearest(s, i):
    from pyspark.sql import functions as F

    df = s.spark.read.parquet(s.input_path)
    out = s.eng.assign_timezones(df, include_all=False)
    out = s.eng.distance_from_boundary(out, metric="geodesic")
    out = s.eng.knn_zones(out, k=3)
    agg = out.groupBy("tzid").agg(
        F.count("*").alias("n"),
        F.sum("boundary_dist_m").alias("dist"),
        # kNN head must equal the containing zone for covered points
        F.sum(
            F.when(F.element_at("nearest_tzids", 1) == F.col("tzid"), 0).otherwise(1)
        ).alias("bad_head"),
    )
    with s.tracer.span("spark.collect"):
        rows = agg.collect()
    return {r["tzid"]: (r["n"], r["dist"], r["bad_head"]) for r in rows}


def write_table(df, dst: str) -> tuple[dict, dict, dict]:
    """``tables.write_resumable`` into ``dst``, timed; returns the
    snapshot, the write's figures and the rows per committed unit, and
    removes the table."""
    from tzengine import tables

    t0 = time.monotonic()
    snap = tables.write_resumable(df, dst)
    write_s = time.monotonic() - t0
    commits = []
    cdir = os.path.join(dst, "_commits")
    for fn in sorted(os.listdir(cdir)):
        with open(os.path.join(cdir, fn)) as f:
            commits.append(json.load(f))
    shutil.rmtree(dst)
    figures = {
        "units": snap["units"],
        "write_s": write_s,
        "staging_write_s": commits[0]["write_wall_sec"] if commits else 0.0,
        "stored_bytes": sum(c["bytes"] for c in commits),
    }
    return snap, figures, {c["unit"]: c["rows"] for c in commits}


def job_write(s, i):
    df = s.spark.read.parquet(s.input_path)
    snap, s.last_write, unit_rows = write_table(
        s.eng.assign_timezones(df, mode="pipeline"), os.path.join(s.work, f"table-{i}")
    )
    if not snap["complete"]:
        raise JobFailed(f"write incomplete: {snap}")
    return unit_rows


JOBS = {"histogram": job_histogram, "nearest": job_nearest, "write": job_write}


def tzid_counts(s, result) -> dict:
    if s.spec["job"] == "nearest":
        return {k: v[0] for k, v in result.items()}
    return result


def check(s, result) -> None:
    """Per-job output checks; raise JobFailed on any mismatch."""
    kind = s.spec["job"]
    if kind == "write":
        from tzengine.tables import HIVE_NULL

        if (sum(result.values()) != s.meta["rows"]
                or result.get(HIVE_NULL, 0) != s.meta["dirty_rows"]):
            raise JobFailed("written rows or NULL-unit rows differ from the input's")
    elif tzid_counts(s, result) != s.expected_counts:
        raise JobFailed("tzid counts differ from the kernel's over the same rows")
    if kind == "nearest" and any(
        v[2] != 0 or v[1] is None or not math.isfinite(v[1]) or v[1] < 0
        for v in result.values()
    ):
        raise JobFailed("kNN head differs from tzid, or a distance is not finite")
    if s.first_result is None:
        s.first_result = result
    elif kind == "nearest":
        # float sums may differ in the last bits with aggregation order
        if not all(
            math.isclose(result[k][1], s.first_result[k][1], rel_tol=1e-9)
            for k in result
        ):
            raise JobFailed("distances differ from the first job's")
    elif result != s.first_result:
        raise JobFailed("output differs from the first job's")


def expected_output(s) -> None:
    """The reference answers the jobs are checked against.

    Zone lists for the seeded sample rows from the one-core kernel must
    equal ``OracleMap``'s; the kernel's tzid counts over every input row
    are then what each Spark job must return."""
    import pyarrow.parquet as pq

    from tzengine import probe
    from tzengine.oracle import OracleMap

    idx = s.eng.idx
    oracle = OracleMap(s.pieces, *REGION)
    sample = s.meta["sample"]
    lat = np.array([np.nan if r[1] is None else r[1] for r in sample])
    lon = np.array([np.nan if r[2] is None else r[2] for r in sample])
    offsets, ranks, valid = probe.probe_ranks(idx, lat, lon, mode="pipeline")
    for k, (i, la, lo) in enumerate(sample):
        got = [idx.zone_ids[r] for r in ranks[offsets[k]:offsets[k + 1]]]
        try:
            want = oracle.get_overlapping_time_zones(la, lo)
        except (ValueError, TypeError):  # outside the region, or NULL
            want = None
        if (got if valid[k] else None) != want:
            raise JobFailed(f"sample row {i}: kernel {got} != oracle {want}")

    tbl = pq.read_table(s.input_path, columns=["lat", "lon"])
    _, first, _ = probe.probe_arrow(
        idx, tbl["lat"].to_numpy(zero_copy_only=False),
        tbl["lon"].to_numpy(zero_copy_only=False), mode="pipeline", with_all=False,
    )
    first = first.to_numpy()
    counts: dict = {}
    for r, c in enumerate(np.bincount(first[first >= 0], minlength=idx.n_pieces)):
        if c:
            z = idx.zone_ids[r]
            counts[z] = counts.get(z, 0) + int(c)
    if (first < 0).any():
        counts[None] = int((first < 0).sum())
    s.expected_counts = counts


def run_job(s, i: int, timeout: float, checked: bool = True) -> dict:
    """One timed job plus its checks (deferred to ``s.pending`` unless
    ``checked``). Failures are recorded, not raised."""
    rec = {"i": i, "ok": False, "wall": None}
    s.tracer.job = i
    timer = threading.Timer(timeout, s.spark.sparkContext.cancelAllJobs)
    mark = s.actions.mark()
    try:
        timer.start()
        t0 = time.monotonic()
        with s.tracer.span("job"):
            result = JOBS[s.spec["job"]](s, i)
        rec["wall"] = time.monotonic() - t0
        timer.cancel()
        got = s.actions.wait_after(mark)
        if got is None or got[1] is None:
            raise JobFailed("no SQL metrics for the job's action")
        rec["sql"] = got[1]
        per_node = got[1]["python_rows_per_node"]
        if not per_node or any(r != s.meta["rows"] for r in per_node):
            raise JobFailed(f"python rows {per_node} != {s.meta['rows']}")
        if checked:
            check(s, result)
        else:
            s.pending = result
        rec["ok"] = True
    except Exception as ex:  # a failing job is counted, the loop goes on
        timer.cancel()
        rec["error"] = "".join(traceback.format_exception_only(type(ex), ex)).strip()
        s.errors.append(f"job {i}: {rec['error']}")
    rec["plan_s"] = sum(
        sp["end"] - sp["start"] for sp in s.tracer.spans
        if sp["job"] == i and sp["name"] in (
            "engine.assign_timezones", "engine.distance_from_boundary",
            "engine.knn_zones")
    )
    if s.spec["job"] == "write" and rec["ok"]:
        rec["write"] = s.last_write
    s.tracer.job = None
    return rec


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    s = SimpleNamespace()
    s.cfg, s.spec, s.meta, s.work = cfg, cfg["spec"], cfg["input"], cfg["work_dir"]
    s.input_path = s.meta["path"]
    s.tracer = Tracer(cfg["trace"])
    s.errors = []
    s.first_result = None
    traced = cfg["trace"]
    out = {"errors": s.errors}

    from tzengine import engine, geojson
    from tzengine.session import get_spark

    import inputs

    if traced:
        instrument(s.tracer)
    with s.tracer.span("session.get_spark"):
        s.spark = get_spark("perfbench", master="local[4]", extra_conf=spark_conf(s.work))
    world = s.spec["world"]
    if s.spec["setup"] == "geojsonl":
        zdf = geojson.zones_from_geojsonl(s.spark, cfg["world_path"])
        if traced:  # ingest on its own, so its cost is not folded into compile
            with s.tracer.span("geojson.materialize"):
                zdf = zdf.persist()
                zdf.count()
        s.eng = engine.TzEngine.for_everywhere(
            s.spark, zdf, world_version=world, distributed=True
        )
        s.pieces = None
    else:
        with s.tracer.span("zones.load_world"):
            s.pieces = inputs.load_world(world)
        s.eng = engine.TzEngine.for_everywhere(s.spark, s.pieces, world_version=world)
    out["setup_s"] = time.monotonic() - cfg["t_spawn"]

    s.actions = ActionMetrics(s.spark)
    timeout = cfg["job_timeout_s"]
    jobs = [run_job(s, 0, timeout, checked=False)]
    # reference answers after the first job, so nothing runs between
    # setup and the first job
    t0 = time.monotonic()
    if s.pieces is None:
        with open(cfg["pieces_path"], "rb") as f:
            s.pieces = pickle.load(f)
    try:
        expected_output(s)
        if jobs[0]["ok"]:
            check(s, s.pending)
    except Exception as ex:
        s.errors.append(f"job 0: {ex}")
        jobs[0]["ok"] = False
    out["oracle_s"] = time.monotonic() - t0

    # JIT and Python-worker caches keep warming for a few jobs; the
    # steady jobs that follow are the ones timed
    for i in range(1, 1 + WARMUP_JOBS):
        jobs.append(run_job(s, i, timeout))
    for rec in jobs:
        rec["steady"] = False
    t_loop = time.monotonic()
    n_steady = 0
    while (
        (time.monotonic() - t_loop < cfg["seconds"] or n_steady < s.spec["min_jobs"])
        and time.monotonic() - cfg["t_spawn"] < cfg["budget_s"]
    ):
        if traced:  # alternate, so the tracing overhead is measured in-run
            s.tracer.enabled = n_steady % 2 == 0
        rec = run_job(s, len(jobs), timeout)
        rec["steady"], rec["traced"] = True, s.tracer.enabled
        jobs.append(rec)
        n_steady += 1
    s.tracer.enabled = traced
    out["jobs"] = jobs

    if traced:
        try:
            out["layers"] = layer_pass(s, jobs)
        except Exception:
            s.errors.append("layer pass: " + traceback.format_exc())
        out["spans"] = s.tracer.spans
        out["self_s"] = s.tracer.self_times()

    t0 = time.monotonic()
    s.actions.close()
    s.spark.stop()
    out["stop_s"] = time.monotonic() - t0
    with open(os.path.join(s.work, "result.json"), "w") as f:
        json.dump(out, f)
    sys.stdout.flush()
    # the py4j callback server can block a normal interpreter exit; the
    # JVM exits when this process closes its stdin pipe
    os._exit(0)


# -- traced layer pass ---------------------------------------------------------


def _median_rate(fn, n: int, reps: int = 3) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return n / statistics.median(walls)


def floor_job(s) -> float:
    """The assign_synth job shape over the workload's input with a
    zero-compute arrow_udf of the engine's current tzid output type."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.arrow_udf(T.ShortType())
    def zero_rank(lat: pa.Array, lon: pa.Array) -> pa.Array:
        return pa.array(np.zeros(len(lat), dtype=np.int16))

    walls = []
    for _ in range(3):
        t0 = time.monotonic()
        df = s.spark.read.parquet(s.input_path)
        df.withColumn("r", zero_rank("lat", "lon")).groupBy("r").count().collect()
        walls.append(time.monotonic() - t0)
    return statistics.median(walls)


def kernel_rates(s) -> dict:
    """Spark-free, one core, on a seeded sample of the workload's inputs."""
    import pyarrow.parquet as pq

    from tzengine import geom, probe

    idx = s.eng.idx
    tbl = pq.read_table(s.input_path, columns=["lat", "lon"])
    lat = tbl["lat"].to_numpy(zero_copy_only=False)
    lon = tbl["lon"].to_numpy(zero_copy_only=False)
    keep = np.isfinite(lat) & np.isfinite(lon) & (np.abs(lat) <= 90)
    lat, lon = lat[keep], lon[keep]
    rng = np.random.default_rng([s.cfg["seed"], 4])
    sizes = s.spec["kernel_sample"]

    def pick(n):
        j = rng.choice(len(lat), min(n, len(lat)), replace=False)
        return lat[j], lon[j]

    out = {}
    la, lo = pick(sizes["lookup"])
    st: dict = {}
    probe.probe_ranks(idx, la, lo, mode="pipeline", stats=st)
    out["probe.candidates_per_row"] = st["n_candidates"] / len(la)
    out["probe.boundary_candidate_share"] = (
        st["n_boundary_candidates"] / max(st["n_candidates"], 1)
    )
    out["probe.lookup_rows_per_s"] = _median_rate(
        lambda: probe.probe_ranks(idx, la, lo, mode="pipeline"), len(la))
    out["probe.first_rows_per_s"] = _median_rate(
        lambda: probe.probe_arrow(idx, la, lo, mode="pipeline", with_all=False), len(la))
    out["probe.all_rows_per_s"] = _median_rate(
        lambda: probe.probe_arrow(idx, la, lo, mode="pipeline", with_all=True), len(la))

    la, lo = pick(sizes["distance"])
    _, first, _ = probe.probe_arrow(idx, la, lo, mode="pipeline", with_all=False)
    zids = [idx.zone_ids[r] if r >= 0 else None for r in first.to_numpy()]
    out["probe.distance_rows_per_s"] = _median_rate(
        lambda: probe.distance_from_boundary_batch(
            idx, zids, la, lo, mode="pipeline", metric="geodesic"), len(la))

    la, lo = pick(sizes["knn"])
    _, n_eval = probe.knn_zones_batch(idx, la, lo, 3, return_stats=True)
    out["probe.knn_evals_per_row"] = n_eval / len(la)
    out["probe.knn_rows_per_s"] = _median_rate(
        lambda: probe.knn_zones_batch(idx, la, lo, 3), len(la))

    la, lo = pick(sizes["geodesic"])
    la2 = np.clip(la + rng.uniform(-1, 1, len(la)), -89.0, 89.0)
    lo2 = lo + rng.uniform(-1, 1, len(lo))
    out["geom.geodesic_pairs_per_s"] = _median_rate(
        lambda: geom.geodesic_distance_wgs84(la, lo, la2, lo2), len(la))
    return out


def layer_pass(s, jobs: list) -> dict:
    import inputs
    from tzengine import engine, geojson, index

    t = s.tracer
    idx = s.eng.idx
    L = {
        "session.start_s": t.first("session.get_spark"),
        "index.bytes": idx.nbytes(),
        "index.pieces": idx.n_pieces,
        "index.levels": len(idx.levels),
        "index.segments": len(idx.seg_a),
        "index.boundary_entry_share": float(1.0 - np.mean(idx.ent_interior)),
        "engine.broadcast_s": t.first("engine.__init__"),
    }

    # distributed ingest + compile of this workload's world (coastline:
    # already done, traced, by the setup)
    if s.spec["setup"] != "geojsonl":
        path = inputs.world_geojsonl(s.spec["world"], s.pieces, s.cfg["cache_dir"])
        zdf = geojson.zones_from_geojsonl(s.spark, path)
        with t.span("geojson.materialize"):
            zdf = zdf.persist()
            zdf.count()
        engine.TzEngine.for_everywhere(
            s.spark, zdf, world_version=s.spec["world"], distributed=True)
        zdf.unpersist()
    L["geojson.ingest_s"] = t.first("geojson.zones_from_geojsonl") + t.first("geojson.materialize")
    dist = next(sp for sp in t.spans if sp["name"] == "engine.for_everywhere"
                and any(c["name"] == "index.assemble_index" for c in t.descendants(sp)))
    L["index.compile_s"] = (dist["end"] - dist["start"]) - sum(
        c["end"] - c["start"] for c in t.descendants(dist) if c["name"] == "engine.__init__")
    with t.span("layer.driver_compile"):
        t0 = time.monotonic()
        index.compile_index(s.pieces, *REGION, world_version=s.spec["world"])
        L["index.driver_compile_s"] = time.monotonic() - t0

    ok = [j for j in jobs if j["steady"] and j["ok"]]
    traced_jobs = [j for j in ok if j["traced"]]
    plain_jobs = [j for j in ok if not j["traced"]]
    n = s.meta["rows"]

    def med(f):
        return statistics.median(f(j) for j in traced_jobs)

    L["engine.plan_s"] = med(lambda j: j["plan_s"])
    L["engine.arrow_in_bytes_per_row"] = med(lambda j: j["sql"]["pythonDataSent"] / n)
    L["engine.arrow_out_bytes_per_row"] = med(lambda j: j["sql"]["pythonDataReceived"] / n)
    L["engine.python_init_s"] = med(lambda j: j["sql"]["pythonInitTime"] / 1e3)
    L["engine.python_exec_s"] = med(lambda j: j["sql"]["pythonTotalTime"] / 1e3)
    L["engine.python_rows"] = med(lambda j: min(j["sql"]["python_rows_per_node"]))
    L["engine.codegen_s"] = med(lambda j: j["sql"]["codegen_ms"] / 1e3)
    L["engine.shuffle_bytes"] = med(lambda j: j["sql"]["shuffle_bytes"])
    p_traced = statistics.median(j["wall"] for j in traced_jobs)
    p_plain = statistics.median(j["wall"] for j in plain_jobs)
    L["trace.overhead_frac"] = (p_traced - p_plain) / p_plain

    with t.span("layer.floor_job"):
        L["engine.floor_job_s"] = floor_job(s)
    with t.span("layer.kernels"):
        L.update(kernel_rates(s))

    if s.spec["job"] == "write":
        w = [j["write"] for j in ok]
        in_bytes = s.meta["input_bytes"]
    else:
        # this workload's own rows, assigned and written once
        df = s.spark.read.parquet(s.input_path).limit(s.spec["write_sample"])
        _, figures, _ = write_table(
            s.eng.assign_timezones(df), os.path.join(s.work, "table-layer"))
        w = [figures]
        in_bytes = s.meta["input_bytes"] * s.spec["write_sample"] / n
    L["tables.write_s"] = statistics.median(x["write_s"] for x in w)
    L["tables.staging_write_s"] = statistics.median(x["staging_write_s"] for x in w)
    L["tables.commit_s"] = statistics.median(x["write_s"] - x["staging_write_s"] for x in w)
    L["tables.units"] = statistics.median(x["units"] for x in w)
    L["tables.stored_bytes_per_input_byte"] = statistics.median(
        x["stored_bytes"] / in_bytes for x in w)
    return L


if __name__ == "__main__":
    main(sys.argv[1])
