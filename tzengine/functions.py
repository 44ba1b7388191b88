"""Relational helpers: skew-aware aggregation + tiling analytics.

Hot cells (dense urban tiles) make ``cell_id`` a skewed groupBy key at
scale. The probe itself never shuffles (broadcast index), so skew only
appears in analytics/output aggregations — handled here with explicit
two-phase salting (SURVEY §4.3), with AQE skew-join as the backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count(
    df: DataFrame, keys: list[str], salt_buckets: int = 16, salt_src: str | None = None
) -> DataFrame:
    """Two-phase count: phase 1 groups by (keys, salt) — splitting a hot
    key across ``salt_buckets`` reducers — phase 2 sums the partials.
    The salt is a DETERMINISTIC hash of ``salt_src`` (or all key columns
    of the row via xxhash64), never rand(): restart-stable.

    Equivalent to ``df.groupBy(keys).count()`` in result; different (skew-
    proof) in shuffle shape."""
    if salt_src is not None:
        salt_col = F.pmod(F.xxhash64(F.col(salt_src)), F.lit(salt_buckets))
    else:
        # partition-id salt: splits hot keys across reducers; the SUM in
        # phase 2 makes the result independent of the salt values, so
        # restart determinism of the OUTPUT is preserved either way
        salt_col = F.pmod(F.spark_partition_id(), F.lit(salt_buckets))
    phase1 = (
        df.withColumn("__salt", salt_col)
        .groupBy(*keys, "__salt")
        .agg(F.count("*").alias("__partial"))
    )
    return phase1.groupBy(*keys).agg(F.sum("__partial").alias("n"))


def hot_cell_histogram(assigned: DataFrame, top: int = 20) -> DataFrame:
    """Per-cell row counts (salted), descending — the skew diagnostic that
    feeds salting/AQE decisions. ``assigned`` is assign_timezones output."""
    return (
        salted_count(assigned, ["cell_id"], salt_src="image_id")
        .orderBy(F.col("n").desc(), F.col("cell_id"))
        .limit(top)
    )


def pipeline_violations(assigned: DataFrame) -> DataFrame:
    """Per-partition out-of-region violation counts in pipeline mode
    (SURVEY Q3: strict mode raises, pipeline mode nulls + counts).
    One row per Spark partition: (partition_id, n_rows, n_violations).

    Violations are counted from the probe's ``in_region`` flag, NOT from
    ``tzid IS NULL``: tzid is also null for in-region points no zone
    covers (valid rows on a non-full-coverage zone set)."""
    return (
        assigned.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum((~F.col("in_region")).cast("long")).alias("n_violations"),
        )
        .withColumnRenamed("__pid", "partition_id")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str = "ts",
    value_cols: list[str] | None = None,
    inclusive: bool = True,
    tie_cols: list[str] | None = None,
    prereduce_right: bool = False,
) -> DataFrame:
    """As-of join (the time-series operator Spark has no built-in for):
    each left row gets the value columns of the LATEST right row with
    the same key and right.ts <= left.ts (or < when inclusive=False).
    Left rows with no prior right row keep NULLs (left-join semantics).

    Scale path — union-tag + carry-forward, genuinely ONE shuffle (the
    window's partitionBy(key)) and no range-join row explosion: right
    rows (tag 0) and left rows (tag 1, carrying ALL their columns) are
    unioned, a window over (key) ordered by (ts, tag) carries the
    latest right row forward as one struct, and the left rows are
    filtered back out with their carried values attached. No row ids,
    no join-back — the output is deterministic for any input plan
    (a monotonically_increasing_id + self-join formulation is not:
    the id can differ between the two plan evaluations after a
    shuffle). At equal timestamps the right row sorts before the left
    row, which gives the inclusive (<=) semantics; a skewed key is a
    single window partition — pre-aggregate right to one row per
    (key, ts) before calling when right is dense.

    Right rows should be unique per (key, ts); duplicates resolve by
    ``tie_cols`` order when given, else arbitrarily (but to a single
    whole row — the struct carry never mixes fields of two rows).

    Skew backstop (``prereduce_right=True``): a hot key is a single
    window partition, and a right side dense per key (many rows per
    (key, ts)) multiplies that partition's row count for no semantic
    gain — only the winning row per (key, ts) can ever be carried. The
    backstop first reduces right to that one winning row per (key, ts)
    with a window partitioned by (key, ts) — a much FINER partitioning
    that spreads the hot key across ts values — so the per-key carry
    window sees the minimal row set. Result-identical when ``tie_cols``
    is given (the kept row is exactly the row the carry would pick);
    without tie_cols duplicate resolution was arbitrary either way."""
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in (key, ts)]
    clash = (set(value_cols) & set(left.columns)) - {key, ts}
    out_clash = {f"asof_{c}" for c in value_cols} & set(left.columns)
    reserved = {"__tag", "__asof"} & (set(left.columns) | set(value_cols))
    if clash or out_clash or reserved:
        raise ValueError(
            f"asof_join column collisions: {sorted(clash | out_clash | reserved)}"
        )
    tag_right = 0 if inclusive else 1
    tag_left = 1 - tag_right

    from pyspark.sql import Window

    # a right row with a NULL timestamp can never satisfy ts <= / < any
    # left ts (standard ASOF semantics; DuckDB's ASOF JOIN never matches
    # NULL) — but Spark's ascending sort places NULLs FIRST, so an
    # unfiltered NULL-ts row would be carried into every left row that
    # precedes all real right rows (ADVICE r3 #1). Drop them up front.
    r = right.select(key, ts, *value_cols).filter(F.col(ts).isNotNull())
    if prereduce_right:
        # keep exactly the row the carry's sort would pick last per
        # (key, ts): carry order is tie_cols ASC nulls-first, so the
        # winner is the FIRST row in the reversed (DESC nulls-last)
        # order. Partitioning by (key, ts) — not key — is the point:
        # a hot key's rows spread across its distinct timestamps.
        if tie_cols:
            pre_order = [F.col(c).desc_nulls_last() for c in tie_cols]
        else:
            pre_order = [F.lit(1).asc()]  # duplicates are arbitrary by contract
        pre_w = Window.partitionBy(key, ts).orderBy(*pre_order)
        r = (
            r.withColumn("__rn", F.row_number().over(pre_w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
    r = r.withColumn("__tag", F.lit(tag_right))
    l2 = left.withColumn("__tag", F.lit(tag_left))
    # allowMissingColumns null-fills left's extra columns on right rows
    # and right's value columns on left rows, with the right dtypes
    both = r.unionByName(l2, allowMissingColumns=True)
    order = [F.col(ts).asc(), F.col("__tag").asc()]
    if tie_cols:
        # only the caller-named tie-breakers join the sort key: ordering
        # by every value column would choke on non-orderable types
        # (maps) and widen the sort for no reason
        order += [F.col(c).asc_nulls_first() for c in tie_cols]
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry the WHOLE latest right row as one struct (per-column carry
    # could stitch together fields of different right rows when a value
    # column is null); left rows carry a NULL struct so ignorenulls
    # skips them
    right_struct = F.when(
        F.col("__tag") == tag_right, F.struct(*[F.col(c) for c in value_cols])
    )
    carried = both.withColumn(
        "__asof", F.last(right_struct, ignorenulls=True).over(w)
    ).filter(F.col("__tag") == tag_left)
    out = carried.select(
        *left.columns,
        *[
            F.col("__asof").getField(c).alias(f"asof_{c}")
            for c in value_cols
        ],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float | None = None,
) -> DataFrame:
    """Range join (point-in-interval; the second custom operator Spark
    has no efficient built-in for — a naive theta join is a broadcast
    nested loop): every (left, right) pair with
    right.lo <= left.point <= right.hi, inner semantics.

    Scale path — interval bucketing: each interval explodes to the
    integer buckets it covers (ceil(span / bucket_width) + 1 rows), the
    point maps to exactly ONE bucket, and the join is a plain hash
    equi-join on the bucket id with the exact predicate as a post-
    filter. Each qualifying pair materializes exactly once (the point's
    bucket is always inside the interval's bucket range), so no dedup
    pass is needed. ``bucket_width`` trades the interval blow-up factor
    against bucket selectivity — near the median interval span an
    interval explodes to ~2-3 buckets while a bucket stays selective.
    ``bucket_width=None`` (default) derives it from the median span with
    one cheap aggregate over right (VERDICT r3 #8): median(hi - lo),
    clamped up to a small epsilon for all-degenerate (hi == lo) inputs,
    AND clamped up to max_span / 4096 (ADVICE r4 #2): a single interval
    1e6x wider than the median would otherwise explode to ~1e6 bucket
    rows — or hit Spark's sequence() array-length cap and fail the job.
    The skew clamp caps EVERY interval at ~4097 bucket rows at the cost
    of coarser buckets for everyone (more exact-predicate post-filter
    work) when spans are heavily skewed; pass an explicit width to
    override either way. The derivation is an extra right-side scan —
    pass the width explicitly in a hot loop or when right is expensive
    to recompute. Intervals with hi < lo are dropped (Spark's
    sequence() would DESCEND and silently fabricate buckets)."""
    if bucket_width is None:
        row = (
            right.filter(F.col(hi_col) >= F.col(lo_col))
            .agg(
                F.median(F.col(hi_col) - F.col(lo_col)).alias("m"),
                F.max(F.col(hi_col) - F.col(lo_col)).alias("mx"),
            )
            .first()
        )
        med = row["m"] if row is not None else None
        if med is None:  # empty right side: any width yields zero pairs
            bucket_width = 1.0
        else:
            # all-point intervals (median span 0): fall back to a width
            # that keeps sequence() length at 1-2 buckets per interval
            bucket_width = float(med) if float(med) > 0 else 1.0
            # skew clamp: bound the widest interval's explode factor
            bucket_width = max(bucket_width, float(row["mx"]) / 4096.0)
    if not bucket_width > 0:
        raise ValueError(f"bucket_width must be > 0, got {bucket_width!r}")
    if "__bucket" in left.columns or "__bucket" in right.columns:
        raise ValueError("range_join: '__bucket' column name is reserved")
    b_point = F.floor(F.col(point_col) / F.lit(bucket_width)).cast("long")
    r2 = (
        right.filter(F.col(hi_col) >= F.col(lo_col))
        .withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo_col) / F.lit(bucket_width)).cast("long"),
                    F.floor(F.col(hi_col) / F.lit(bucket_width)).cast("long"),
                )
            ),
        )
    )
    return (
        left.withColumn("__bucket", b_point)
        .join(r2, "__bucket")
        .filter(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) <= F.col(hi_col))
        )
        .drop("__bucket")
    )
