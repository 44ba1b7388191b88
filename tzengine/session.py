"""Session helpers: tuned SparkSession builder + self-shipping package.

``ensure_shipped`` zips the tzengine package and registers it with
``sparkContext.addPyFile`` so executor Python workers can unpickle the
engine's Arrow UDF closures — the in-process equivalent of running via
``spark-submit --py-files tzengine.zip`` on a real cluster (north_rule).
Idempotent per SparkContext; the zip is named by a hash of the shipped
sources, so drivers of the same code share one file in the temp dir.

``get_spark`` also starts one background warm-up query per SparkContext
(see ``_warm_up``), so that the first real job finds the Python workers
forked and the JVM's Arrow UDF, codegen, shuffle and AQE paths loaded:
the warm-up overlaps the caller's world load, index compile, broadcast
and first plan build. It runs on a session of its own, because a
``QueryExecutionListener`` is per session, and only from ``get_spark``,
because ``ensure_shipped`` and ``TzEngine`` also run on sessions the
caller built, whose job counts a surprise job would change.
"""

from __future__ import annotations

import hashlib
import logging
import os
import tempfile
import zipfile

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import InheritableThread

from .arrowio import arrow_array

_SHIPPED_ATTR = "_tzengine_shipped"
_WARM_ATTR = "_tzengine_warm_up"


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


def warm_up_batch(ids: pa.Array) -> pa.Array:
    """The warm-up query's arrow_udf body: load the probe kernel's
    modules (numpy, pyarrow, tzengine.probe) into the Python worker and
    return one int16 zero per row."""
    from . import probe  # noqa: F401

    return arrow_array(np.zeros(len(ids), np.int16))


class _WarmUp(InheritableThread):
    """Runs ``_warm_up`` once. An exception (``spark.stop()`` during the
    warm-up, say) is logged at DEBUG level only, and the first real job
    then starts cold, as it would without the warm-up."""

    def run(self) -> None:
        try:
            super().run()
        except Exception:
            logging.getLogger(__name__).debug("warm-up query failed", exc_info=True)


def _warm_up(spark: SparkSession) -> None:
    """One ``defaultParallelism``-task Arrow UDF query, grouped and
    collected, on a new session that shares ``spark``'s SparkContext.
    It touches no index and no user data."""
    ws = spark.newSession()
    sc = ws.sparkContext
    sc.setJobDescription("tzengine Python worker warm-up")
    n = sc.defaultParallelism
    zero = F.arrow_udf(warm_up_batch, T.ShortType())
    ws.range(n, numPartitions=n).groupBy(zero("id")).count().collect()


def get_spark(
    app_name: str = "tzengine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Opinionated session: AQE + skew join on, Arrow on, UTC, shuffle
    partitions sized to cores (not the 200 default — wrong at both tiny
    and huge scale; at 100 TB you'd raise it to ~2-3x total cores).

    Returns without waiting for the warm-up query that it starts once
    per SparkContext, on a daemon thread and on ``spark.newSession()``:
    a listener registered on the returned session never sees it, but the
    context's job counts do, so a check that counts jobs builds its
    session without ``get_spark``."""
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
    sc = spark.sparkContext
    if getattr(sc, _WARM_ATTR, None) is None:
        thread = _WarmUp(
            target=_warm_up, args=(spark,), name="tzengine-warm-up", daemon=True
        )
        setattr(sc, _WARM_ATTR, thread)
        thread.start()
    return spark
