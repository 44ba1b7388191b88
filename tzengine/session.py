"""Session helpers: tuned SparkSession builder + self-shipping package.

``ensure_shipped`` zips the tzengine package and registers it with
``sparkContext.addPyFile`` so executor Python workers can unpickle the
engine's Arrow UDF closures — the in-process equivalent of running via
``spark-submit --py-files tzengine.zip`` on a real cluster (north_rule).
Idempotent per SparkContext; the zip is named by a hash of the shipped
sources, so drivers of the same code share one file in the temp dir.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED_ATTR = "_tzengine_shipped"


def ensure_shipped(spark: SparkSession) -> None:
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = {}
    for root, _dirs, files in os.walk(pkg_dir):
        for fn in (fn for fn in files if fn.endswith(".py")):
            rel = os.path.relpath(os.path.join(root, fn), pkg_dir)
            with open(os.path.join(pkg_dir, rel), "rb") as f:
                sources[f"tzengine/{rel}"] = f.read()
    # named by content, so drivers of the same code share one zip, and
    # os.replace never leaves a half-written one under that name
    h = hashlib.sha256(repr(sorted(sources.items())).encode()).hexdigest()
    zip_path = os.path.join(tempfile.gettempdir(), f"tzengine-{h[:16]}.zip")
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for rel, data in sorted(sources.items()):
                zf.writestr(rel, data)
        os.replace(tmp, zip_path)
    sc.addPyFile(zip_path)
    setattr(sc, _SHIPPED_ATTR, True)


def get_spark(
    app_name: str = "tzengine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Opinionated session: AQE + skew join on, Arrow on, UTC, shuffle
    partitions sized to cores (not the 200 default — wrong at both tiny
    and huge scale; at 100 TB you'd raise it to ~2-3x total cores)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # size-based coalescing (round 6): the default parallelismFirst
        # keeps tiny shuffles at defaultParallelism partitions purely
        # for core count; sizing partitions by advisoryPartitionSize is
        # the production-recommended setting at any scale (guide §2.2 —
        # 100 MB-1 GB partitions, not a per-core constant) and trims
        # the many-small-task overhead of the small analytic queries
        # (~5% on the LSH pipeline locally, neutral elsewhere)
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "false",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big Arrow batches: the probe kernel's per-batch fixed cost
        # (numpy dispatch) dominates below ~16k rows; 64k ≈ the sweet spot
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # ...but bound batches by BYTES too: multimodal rows carry
        # MB-sized binary payloads, and 64k of those would be tens of GB
        # per batch. Spark 4's byte cap makes the record cap safe for
        # narrow probe rows AND wide image rows simultaneously.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
    )
    if shuffle_partitions is None:
        n = int(cpus) if cpus else (os.cpu_count() or 8)
        shuffle_partitions = max(8, n)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_shipped(spark)
    return spark
