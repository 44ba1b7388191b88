"""Structured Streaming wrappers.

The reference is a batch lookup library (SURVEY §2.D: streaming absent);
the engine's probe is a stateless narrow map, so it composes with
Structured Streaming for free — these wrappers make that path explicit
and tested:

- ``streaming_cell_counts``: watermarked tumbling-window per-zone counts
  (late data handled by the watermark) — the standard hot-cell monitor
  over an event stream. NOTE: in ``update`` output mode a sink receives
  one row per (group, trigger); the LAST update per group carries the
  full count — aggregate with max(n), not sum(n), when reading a memory
  sink across triggers.
- ``stream_to_resumable``: foreachBatch sink writing each micro-batch
  through the engine, appending partitioned Parquet. Delivery is
  at-least-once: a crash between a batch's write and its checkpoint
  commit replays the batch, appending its rows again.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_cell_counts(
    engine,
    stream_df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
    **assign_kw,
) -> DataFrame:
    assigned = engine.assign_timezones(stream_df, mode="pipeline", **assign_kw)
    return (
        assigned.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), F.col("tzid"))
        .agg(F.count("*").alias("n"), F.approx_count_distinct("cell_id").alias("n_cells"))
    )


def streaming_dedup(
    stream_df: DataFrame,
    key_col: str = "phash",
    id_col: str = "image_id",
    ttl: int | None = None,
) -> DataFrame:
    """Custom STATEFUL streaming operator (applyInPandasWithState):
    emit each key's row only the FIRST time it is seen across the whole
    stream — exact streaming dedup with per-key state (the standard
    ingest-side duplicate filter for a training-data firehose).

    The one pandas UDF left in tzengine: applyInPandasWithState has no
    Arrow form, and Spark's other stateful Python operators
    (``transformWithState*``) need ``google.protobuf``, which this
    environment lacks.

    State hygiene for 100 TB streams (VERDICT r1 #10):

    - ``ttl`` (milliseconds, processing time): each stored id carries its
      LAST-seen timestamp (every arrival refreshes it, so an id that
      keeps arriving is never re-emitted); entries quiet for longer than
      the TTL are dropped whenever the key is touched, so an active
      key's state is bounded by its TTL-window cardinality.
    - without a TTL, state is written only when a batch adds new ids
      (duplicate-only batches touch nothing); with a TTL, duplicate
      arrivals write the refreshed timestamps.

    The TTL is LAZY (evaluated on access) rather than timer-driven:
    GroupState processing-time timers trigger empty-batch replanning that
    hits a Spark 4.1 internal NPE (PythonSQLMetrics with a null plan
    session) in this environment, and transformWithStateInPandas's
    ListState TTL needs google.protobuf, which this environment lacks.
    Lazy TTL bounds every key that still receives traffic; FULLY-QUIET
    keys are reclaimed by maintenance ticks: a row whose ``id_col`` is
    NULL touches its key WITHOUT inserting anything — expired entries
    are swept and a key whose state empties is removed outright
    (``state.remove``). ``dedup_maintenance_ticks`` builds a tick frame
    from any key source (the natural one is the sink's own distinct
    keys: every stored key was emitted at least once); union it into the
    input stream on whatever cadence bounds your state (VERDICT r2 #8).

    NULL-id CONTRACT (ADVICE r3 #2): a NULL (or NaN) ``id_col`` is the
    maintenance-tick sentinel and is CONSUMED — it sweeps its key's
    expired state and is never emitted. A dirty input stream whose
    genuine rows can carry NULL ids must therefore pre-filter or
    pre-fill them (e.g. ``F.coalesce(id, lit("__null__"))``) before this
    operator, or those rows silently disappear from the output. The
    sentinel is deliberate: applyInPandasWithState offers no side
    channel, so the tick must ride the data schema, and NULL is the one
    value a real id never needs (a NULL id cannot be deduplicated
    meaningfully anyway)."""
    import time as _time

    import pandas as pd

    from pyspark.sql.streaming.state import GroupState

    out_schema = f"{key_col} long, {id_col} string"
    state_schema = "seen array<string>, seen_ms array<double>"

    def dedup_fn(key, pdfs, state: GroupState):
        now_ms = _time.time() * 1000.0
        last: dict = {}
        n_before = 0
        if state.exists:
            old_ids, old_tss = state.get
            n_before = len(old_ids)
            for i, t in zip(old_ids, old_tss):
                if ttl is None or now_ms - t <= ttl:
                    last[i] = t
        fresh = []
        touched = False
        for pdf in pdfs:
            for v in pdf[id_col]:
                if v is None or (isinstance(v, float) and v != v):
                    continue  # maintenance tick: sweep only, insert nothing
                if v not in last:
                    fresh.append(v)
                elif ttl is not None:
                    touched = True  # LAST-seen semantics: refresh below
                last[v] = now_ms
        if not last and state.exists:
            state.remove()  # quiet key fully expired -> zero state rows
        elif fresh or touched or len(last) - len(fresh) != n_before:
            state.update((list(last), [last[i] for i in last]))
        yield pd.DataFrame({key_col: [key[0]] * len(fresh), id_col: fresh})

    return (
        stream_df.groupBy(key_col)
        .applyInPandasWithState(
            dedup_fn, out_schema, state_schema, "append", "NoTimeout"
        )
    )


def dedup_maintenance_ticks(
    keys_df: DataFrame, key_col: str = "phash", id_col: str = "image_id"
) -> DataFrame:
    """Maintenance-tick rows for ``streaming_dedup``: one NULL-id row per
    key. Ticks touch their key so the lazy TTL sweeps it, and a key whose
    entries have all expired is REMOVED from the state store — the
    reclamation path for keys that stopped receiving traffic. Feed any
    key source; the sink's distinct keys are always sufficient (every
    stored key was emitted on first sight)."""
    return keys_df.select(
        F.col(key_col), F.lit(None).cast("string").alias(id_col)
    )


def stream_to_resumable(
    engine,
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    partition_col: str = "zone_shard",
    **assign_kw,
):
    """foreachBatch sink: assign + append partitioned Parquet,
    at-least-once: the append is not idempotent, so a crash between a
    batch's write and its checkpoint commit replays the batch and
    appends its rows again — into the same partitions, since the
    row→shard function is deterministic."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        out = engine.assign_timezones(batch_df, mode="pipeline", **assign_kw)
        out.write.mode("append").partitionBy(partition_col).parquet(out_dir)

    return (
        stream_df.writeStream.option("checkpointLocation", checkpoint_dir)
        .foreachBatch(write_batch)
    )
