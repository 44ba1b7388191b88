"""Similarity search over embedding columns (array<float>).

- ``brute_force_topk``: exact cosine top-k. The query set is broadcast
  (small side of the join by construction); the dot product runs JVM-side
  via zip_with/aggregate inside whole-stage codegen; top-k is a window
  over the query id. Scales as one pass over the corpus — the right
  baseline at any corpus size when the query set is small.
- ``ivf_topk``: IVF-style scale path: corpus vectors are bucketed to
  their nearest centroid once (vectorized Arrow UDF), queries probe only
  the ``nprobe`` nearest centroid buckets (partition pruning on the
  centroid id), then exact cosine within the probed buckets.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..arrowio import arrow_array, arrow_list, arrow_matrix


def _cosine(vec_a, vec_b):
    """One parsed expression (round 6): the Column-API lambda tree cost
    ~25 py4j round trips of driver plan-building per scored DataFrame;
    the SQL string is one call with the identical AST (same sequential
    left-to-right folds, 0.0D double literals)."""

    def _sql(c):
        return c if isinstance(c, str) else c._jc.toString()

    a, b = _sql(vec_a), _sql(vec_b)
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        f"(acc, v) -> acc + v) / "
        f"(sqrt(aggregate(transform({a}, x -> x * x), 0.0D, "
        f"(acc, v) -> acc + v)) * "
        f"sqrt(aggregate(transform({b}, x -> x * x), 0.0D, "
        f"(acc, v) -> acc + v)))"
    )


def _topk_per_query(
    scored: DataFrame, k: int, id_col: str, query_id_col: str
) -> DataFrame:
    """Two-phase exact top-k over a scored corpus.

    A single window over ``query_id`` ships EVERY scored corpus row to
    one reducer per query — with 5 queries over a 100 TB corpus, 5 tasks
    each receive 1/5 of all scores. Phase 1 instead ranks within
    (input partition, query): the shuffle key space is
    n_partitions × n_queries, so the exchange spreads uniformly over all
    reducers and each emits at most k rows per query. Phase 2 ranks the
    surviving ≤ k × n_partitions rows per query — trivially small.
    Results are identical to the single-window form (same
    (cosine desc, id asc) total order both phases)."""
    local = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__lrk",
            F.row_number().over(
                Window.partitionBy("__pid", query_id_col).orderBy(
                    F.col("cosine").desc(), F.col(id_col).asc()
                )
            ),
        )
        .filter(F.col("__lrk") <= k)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "cosine", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query. ``queries`` columns:
    (query_id, embedding). Output: (query_id, vec_id, cosine, rank).
    The query set is broadcast; scoring is one JVM-side narrow pass over
    the corpus; top-k is two-phase (no per-query reducer hotspot)."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col), F.col(vec_col).alias("__qvec")
        )
    )
    joined = corpus.select(id_col, vec_col).crossJoin(q)
    scored = joined.withColumn("cosine", _cosine(F.col(vec_col), F.col("__qvec")))
    return _topk_per_query(scored, k, id_col, query_id_col)


def _centroid_sims(vecs: pa.Array, cnorm: np.ndarray) -> np.ndarray:
    """(rows, centroids) cosines of a list<number> vector column against
    the unit-norm centroid rows ``cnorm``."""
    mat = arrow_matrix(vecs)
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    return mat @ cnorm.T


def nearest_centroid(vecs: pa.Array, cnorm: np.ndarray) -> pa.Array:
    """Each vector's nearest centroid by cosine, int32 (an exact tie goes
    to the lower id). The body of :func:`assign_centroids`."""
    sims = _centroid_sims(vecs, cnorm)
    return arrow_array(np.argmax(sims, axis=1).astype(np.int32))


def probe_centroids(vecs: pa.Array, cnorm: np.ndarray, nprobe: int) -> pa.Array:
    """Each vector's ``nprobe`` nearest centroids by cosine, nearest
    first, as list<int32>: the probes of :func:`ivf_topk`. The sort is
    stable, so exact similarity ties resolve to the LOWER centroid id,
    matching the (sim DESC, cid ASC) order of the DuckDB oracle."""
    sims = _centroid_sims(vecs, cnorm)
    order = np.argsort(-sims, axis=1, kind="stable")[:, :nprobe]
    offsets = np.arange(len(order) + 1) * order.shape[1]
    return arrow_list(offsets, order.ravel().astype(np.int32))


def assign_centroids(
    corpus: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucket each vector to its nearest centroid (cosine), one vectorized
    matmul per Arrow batch."""
    cnorm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.arrow_udf(T.IntegerType())
    def _nearest(vecs: pa.Array) -> pa.Array:
        return nearest_centroid(vecs, cnorm)

    return corpus.withColumn("centroid_id", _nearest(F.col(vec_col)))


def deterministic_centroids(
    corpus: DataFrame, n_centroids: int, vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic centroid choice: the vectors with the ``n_centroids``
    smallest ids (seeded k-means would also be deterministic, but id-pick
    keeps the fixture reproducible and is enough to exercise the IVF
    plan shape)."""
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    )
    return np.vstack([np.asarray(r[1], dtype=np.float64) for r in rows])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: np.ndarray,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: probe only the nprobe nearest centroid buckets.

    The bucketed corpus would be written partitioned by centroid_id at
    scale (partition pruning skips unprobed buckets entirely); here the
    pruning happens via the semi-join on (centroid_id) which AQE turns
    into a broadcast."""
    bucketed = assign_centroids(corpus, centroids, id_col, vec_col)

    cnorm = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.arrow_udf(T.ArrayType(T.IntegerType()))
    def _probes(vecs: pa.Array) -> pa.Array:
        return probe_centroids(vecs, cnorm, nprobe)

    q = queries.select(
        query_id_col,
        F.col(vec_col).alias("__qvec"),
        F.explode(_probes(F.col(vec_col))).alias("centroid_id"),
    )
    joined = bucketed.join(F.broadcast(q), "centroid_id")
    scored = joined.withColumn("cosine", _cosine(F.col(vec_col), F.col("__qvec")))
    return _topk_per_query(scored, k, id_col, query_id_col)
