"""Iceberg-style resumable table writes: manifest → per-partition commits
→ snapshot.

North-rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". No Iceberg runtime jars exist in this environment, so
the commit protocol is implemented explicitly over partitioned Parquet,
keeping an Iceberg-compatible layout (partition dirs + JSON metadata):

    out_dir/
      _manifest.json            run description: run_id, partition spec,
                                unit list, engine version, input lineage
      _commits/commit_<v>.json  one per completed partition: rows, bytes,
                                wall time, lineage (run_id + input)
      _snapshot.json            written when every unit committed
      <col>=<v>/part-*.parquet  the data

Work units are the values of a DETERMINISTIC partition column (e.g.
``zone_shard``, itself a pure function of the row:
``pmod(xxhash64(cell_id), n_shards)``), so the same input always
produces the same unit set and the same rows in each unit regardless of
cluster size, restarts, or input partitioning.
NULL partition values are a first-class unit named
``__HIVE_DEFAULT_PARTITION__`` (Parquet's own convention for null
partitions) — pipeline-mode out-of-region rows land there instead of
being silently dropped.

Single-pass at any scale: the upstream plan is evaluated EXACTLY ONCE —
one ``partitionBy`` write of every pending unit into one staging
directory. Unit discovery falls out of the staging directory listing (no
``distinct()`` pre-pass), per-unit row counts come from the written
Parquet footers (no metrics aggregation pass), and each unit is then
promoted with an atomic rename + commit file. A crash mid-promote never
leaves a half-visible partition; resume re-runs the plan once, filtered
to the still-pending units.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import __version__

#: Parquet/Hive directory name for a NULL partition value.
HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

_MISMATCH_MSG = (
    "manifest mismatch: resuming with different input or "
    "partition spec than the original run"
)


class AbortForTest(Exception):
    """Raised by the fault-injection hook in tests (kill-and-resume)."""


def _commit_path(out_dir: str, value) -> str:
    return os.path.join(out_dir, "_commits", f"commit_{value}.json")


def committed_units(out_dir: str) -> set:
    cdir = os.path.join(out_dir, "_commits")
    if not os.path.isdir(cdir):
        return set()
    out = set()
    for fn in os.listdir(cdir):
        if fn.startswith("commit_") and fn.endswith(".json"):
            out.add(fn[len("commit_") : -len(".json")])
    return out


def _parquet_dir_stats(path: str) -> tuple[int, int]:
    """(rows, bytes) of a partition directory, from file metadata only —
    footer num_rows, no data read and no Spark job."""
    import pyarrow.parquet as pq

    rows = 0
    nbytes = 0
    for fn in os.listdir(path):
        if not fn.endswith(".parquet"):
            continue
        full = os.path.join(path, fn)
        rows += pq.ParquetFile(full).metadata.num_rows
        nbytes += os.path.getsize(full)
    return rows, nbytes


def _snapshot(out_dir: str, manifest: dict) -> dict:
    done = committed_units(out_dir)
    units = manifest["units"]
    snapshot = {
        "run_id": manifest["run_id"],
        "complete": set(units) <= done,
        "units": len(units),
        "committed": len(done),
        "total_rows": sum(
            json.load(open(_commit_path(out_dir, u)))["rows"] for u in done
        ),
    }
    if snapshot["complete"]:
        snap_file = os.path.join(out_dir, "_snapshot.json")
        with open(snap_file + ".tmp", "w") as f:
            json.dump(snapshot, f, indent=2)
        os.replace(snap_file + ".tmp", snap_file)
    return snapshot


def write_resumable(
    df: DataFrame,
    out_dir: str,
    partition_col: str = "zone_shard",
    input_lineage: dict | None = None,
    fail_after_units: int | None = None,
) -> dict:
    """Write ``df`` partitioned by ``partition_col`` with per-partition
    commits. Returns the snapshot dict. Idempotent: re-running after a
    crash completes only the missing units, and the upstream plan is
    evaluated exactly once per invocation.

    ``fail_after_units`` is a test-only fault-injection hook: abort after
    promoting+committing that many units (simulates a driver crash in the
    middle of the commit loop).
    """
    os.makedirs(os.path.join(out_dir, "_commits"), exist_ok=True)
    manifest_file = os.path.join(out_dir, "_manifest.json")
    done = committed_units(out_dir)

    manifest: dict | None = None
    if os.path.exists(manifest_file):
        manifest = json.load(open(manifest_file))
        if manifest["partition_col"] != partition_col:
            raise ValueError(_MISMATCH_MSG)
        pending = [u for u in manifest["units"] if u not in done]
        if not pending:
            # everything committed — still validate the CALLER'S input
            # against the manifest (the only path that needs a discovery
            # pass; without it, "resuming" a complete table with
            # different input would silently report success)
            units_now = {
                r[0]
                for r in df.select(
                    F.coalesce(
                        F.col(partition_col).cast("string"), F.lit(HIVE_NULL)
                    ).alias("u")
                )
                .distinct()
                .collect()
            }
            if units_now != set(manifest["units"]):
                raise ValueError(_MISMATCH_MSG)
            return _snapshot(out_dir, manifest)
        sub = df.filter(
            ~F.coalesce(
                F.col(partition_col).cast("string"), F.lit(HIVE_NULL)
            ).isin(sorted(done))
        ) if done else df
        run_id = manifest["run_id"]
    else:
        pending = None  # unknown until the staging write lands
        sub = df
        run_id = uuid.uuid4().hex

    # THE single evaluation of the upstream plan: all pending units, one
    # partitionBy write into one staging dir
    t0 = time.time()
    staging = os.path.join(out_dir, f"_staging_{run_id}")
    sub.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
    write_wall = time.time() - t0

    prefix = f"{partition_col}="
    staged = sorted(
        d[len(prefix):]
        for d in os.listdir(staging)
        if d.startswith(prefix) and os.path.isdir(os.path.join(staging, d))
    )

    if manifest is None:
        manifest = {
            "run_id": run_id,
            "engine_version": __version__,
            "partition_col": partition_col,
            "units": sorted(set(staged) | done),
            "input": input_lineage or {},
            "created_unix": time.time(),
        }
        with open(manifest_file + ".tmp", "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(manifest_file + ".tmp", manifest_file)
    else:
        # the observed units must agree with the manifest: a staged unit
        # the manifest doesn't know, or a pending unit the input no
        # longer produces, means the caller resumed with different input
        unknown = [u for u in staged if u not in set(manifest["units"])]
        missing = [u for u in (pending or []) if u not in set(staged)]
        if unknown or missing:
            shutil.rmtree(staging, ignore_errors=True)
            raise ValueError(_MISMATCH_MSG)

    # promote + commit per unit (driver-side FS metadata ops only)
    n_promoted = 0
    for u in staged:
        if u in done:
            continue
        if fail_after_units is not None and n_promoted >= fail_after_units:
            raise AbortForTest(f"injected failure after {n_promoted} units")
        src = os.path.join(staging, f"{partition_col}={u}")
        dst = os.path.join(out_dir, f"{partition_col}={u}")
        if os.path.isdir(dst):
            shutil.rmtree(dst)  # leftover from a crashed, uncommitted try
        os.replace(src, dst)  # atomic promote
        rows, nbytes = _parquet_dir_stats(dst)
        commit = {
            "unit": u,
            "run_id": manifest["run_id"],
            "engine_version": __version__,
            "rows": rows,
            "bytes": nbytes,
            "write_wall_sec": write_wall,
            "lineage": manifest["input"],
            "committed_unix": time.time(),
        }
        cpath = _commit_path(out_dir, u)
        with open(cpath + ".tmp", "w") as f:
            json.dump(commit, f, indent=2)
        os.replace(cpath + ".tmp", cpath)
        n_promoted += 1
    shutil.rmtree(staging, ignore_errors=True)

    return _snapshot(out_dir, manifest)


def read_table(spark, out_dir: str) -> DataFrame:
    """Read back only COMMITTED partitions (uncommitted stragglers are
    invisible, like reading an Iceberg snapshot)."""
    manifest = json.load(open(os.path.join(out_dir, "_manifest.json")))
    col = manifest["partition_col"]
    done = committed_units(out_dir)
    paths = [
        os.path.join(out_dir, f"{col}={u}")
        for u in sorted(done)
        if os.path.isdir(os.path.join(out_dir, f"{col}={u}"))
    ]
    if not paths:
        raise ValueError(f"no committed partitions under {out_dir}")
    return (
        spark.read.option("basePath", out_dir).parquet(*paths)
    )
