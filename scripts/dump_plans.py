"""Regenerate PLANS.md: formatted physical plans for the engine's key
operators, with the properties each plan must exhibit called out.

Run: python scripts/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    from tzengine.session import get_spark
    from tzengine.engine import TzEngine
    from tzengine.fixtures import geo_images_df
    from tzengine.zones import pieces_to_df, synthetic_world

    spark = get_spark("plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    eng = TzEngine.for_everywhere(spark, synthetic_world(), world_version="synth1")

    sections = []

    # 1. the probe: must be shuffle-free, Arrow-eval, lat/lon only
    df = geo_images_df(spark, 100)
    assigned = eng.assign_timezones(df)
    sections.append(
        (
            "Timezone assignment (broadcast spatial join probe)",
            "No `Exchange` anywhere — the index is a broadcast variable and "
            "the probe is a narrow map. `ArrowEvalPython` receives ONLY "
            "`lat, lon` (the image `bytes` column never crosses into "
            "Python); zone names are attached by the JVM `Project` via "
            "element_at on a literal array. Both probe UDFs are called "
            "inline in that one `Project` (no temp columns), and both "
            "ride one `ArrowEvalPython` node.",
            formatted(assigned),
        )
    )

    # 1b. Q1-only probe: no rank-list column anywhere in the plan
    q1 = eng.assign_timezones(df, include_all=False)
    sections.append(
        (
            "Q1-only assignment (include_all=False fast path)",
            "Same shuffle-free shape, but the UDF output is ONE bare "
            "first-rank int16 column (round 6: no struct wrapper, no "
            "valid flag — validity is re-derived JVM-side from the "
            "lat/lon bounds inside codegen) and the Project has no "
            "per-element transform — the all-matches array is neither "
            "built nor serialized.",
            formatted(q1),
        )
    )

    # 2. zones scan with bbox prune: PushedFilters + pruned ReadSchema
    zpath = "/tmp/tzengine_plans_zones"
    pieces_to_df(spark, synthetic_world()).write.mode("overwrite").parquet(zpath)
    zones = spark.read.parquet(zpath)
    pruned = zones.filter(
        ~(
            (F.col("max_lat") < F.lit(4.0))
            | (F.col("min_lat") > F.lit(5.0))
            | (F.col("max_lon") < F.lit(4.0))
            | (F.col("min_lon") > F.lit(5.0))
        )
    ).select("zone_id", "polygon_id")
    sections.append(
        (
            "Zone-table scan with envelope prune (reference O1)",
            "The bbox predicate reaches the Parquet scan as `PushedFilters` "
            "(row-group min/max skipping = the reference's "
            "deserialize-free envelope prune); `ReadSchema` excludes the "
            "wide `rings` column (column pruning).",
            formatted(pruned),
        )
    )

    # 3. salted two-phase aggregation (skew handling)
    from tzengine.functions import salted_count

    assigned_small = eng.assign_timezones(
        geo_images_df(spark, 200, with_bytes=False)
    )
    hist = salted_count(assigned_small, ["cell_id"], salt_src="image_id")
    sections.append(
        (
            "Salted two-phase count (hot-cell skew handling)",
            "Two `HashAggregate` pairs: phase 1 groups by (cell_id, salt) "
            "splitting hot cells across reducers, phase 2 sums partials. "
            "Partial aggregation (map-side combine) shows as "
            "partial_count before each Exchange.",
            formatted(hist),
        )
    )

    # 4. two-phase top-k: phase-1 window keyed by (partition id, query)
    from tzengine.pipeline.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = brute_force_topk(emb, q, k=5)
    sections.append(
        (
            "Two-phase ANN top-k (no per-query reducer hotspot)",
            "Phase 1's Window partitions by `(__pid, query_id)` — the "
            "shuffle key space is n_partitions x n_queries so the "
            "exchange spreads uniformly and emits at most k rows per "
            "(partition, query); phase 2's Window over `query_id` ranks "
            "only those survivors. A single window over `query_id` would "
            "ship EVERY scored corpus row to one reducer per query.",
            formatted(topk),
        )
    )

    # 5. minhash-LSH candidate join: narrow (id, band, bucket) shuffle
    from tzengine.pipeline.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lsh = minhash_lsh_pairs(docs, verify_threshold=0.5)
    sections.append(
        (
            "MinHash-LSH candidate generation (narrow bucket shuffle)",
            "The bucket self-join exchanges ONLY `(doc_id, band, bucket)` "
            "(3 columns) on both sides; the 32 signature columns join "
            "back onto the few surviving pairs afterwards. Signatures "
            "persist once (InMemoryTableScan) feeding the explode and "
            "both verify joins.",
            formatted(lsh),
        )
    )

    # 6. asof_join: ONE exchange (the per-key carry window); the
    # prereduce_right skew backstop adds a finer (key, ts) window first
    from tzengine.functions import asof_join, range_join

    left = spark.range(1000).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("ts")
    )
    right = spark.range(500).select(
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 2).alias("ts"),
        F.col("id").cast("double").alias("v"),
    )
    sections.append(
        (
            "As-of join (union-tag + struct carry)",
            "Exactly ONE Exchange on the key feeds the carry window — no "
            "row-id self-join, no range explosion. Right rows with NULL "
            "ts are filtered before the union (ASOF semantics). With "
            "`prereduce_right=True` a FINER (key, ts) window first "
            "reduces a dense right side to one winning row per (key, "
            "ts) — the hot-key backstop trades one extra exchange for a "
            "bounded per-key carry partition.",
            formatted(asof_join(left, right, "k", tie_cols=["v"])),
        )
    )

    # 7. range_join: hash equi-join on the derived bucket — NOT a
    # broadcast-nested-loop theta join
    ivs = spark.range(100).select(
        F.col("id").alias("iid"),
        (F.col("id") * 10.0).alias("lo"),
        (F.col("id") * 10.0 + 15.0).alias("hi"),
    )
    pts = spark.range(1000).select(
        F.col("id").alias("pid"), (F.col("id") * 1.0).alias("p")
    )
    sections.append(
        (
            "Range join (interval bucketing)",
            "The join is a hash equi-join on the derived `__bucket` id "
            "(SortMergeJoin/ShuffledHashJoin — crucially NOT "
            "BroadcastNestedLoopJoin, which is what a naive theta join "
            "plans to); the exact range predicate is a post-filter. With "
            "`bucket_width=None` one cheap median aggregate derives the "
            "width before planning.",
            formatted(range_join(pts, ivs, "p", "lo", "hi", bucket_width=15.0)),
        )
    )

    out = ["# PLANS — physical-plan evidence (generated by scripts/dump_plans.py)\n"]
    out.append(
        "Regenerate after planner-relevant changes: "
        "`python scripts/dump_plans.py`.\n"
    )
    for title, expectation, plan in sections:
        out.append(f"\n## {title}\n\n{expectation}\n\n```\n{plan.strip()}\n```\n")

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
