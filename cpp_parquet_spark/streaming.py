"""Structured Streaming ingestion for the encode engine.

The reference is batch-only (single Flush, parquet-file.cc:118-177);
this module gives the engine a streaming front door the Spark-idiomatic
way: ``readStream`` → ``foreachBatch`` → the same checkpointed
EncodeJob used for batch, one lineage snapshot per micro-batch; the
chunk store is the union of all committed snapshots.  Spark's own
streaming checkpoint guarantees each micro-batch is delivered at least
once; a re-delivered batch runs under the same snapshot id
(``{snapshot_id}-b{batch_id}``), and EncodeJob's content-hash partition
ids let it skip every part that snapshot already committed, so the
combination is effectively exactly-once into the chunk store.

Also provides a windowed/watermarked stats stream over the ``events``
table shape (ts, user_id, event_type, amount) as the
late-data-handling example.
"""

from __future__ import annotations

import copy

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cpp_parquet_spark.lineage import EncodeJob


def encode_stream(
    source: DataFrame,
    job: EncodeJob,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Attach the encode pipeline to a streaming DataFrame.

    Returns the StreamingQuery.  Each micro-batch runs through the
    same salted/checkpointed encode as batch mode, under snapshot id
    ``{job.snapshot_id}-b{batch_id}``.
    """

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_job = copy.copy(job)
        batch_job.snapshot_id = f"{job.snapshot_id}-b{batch_id}"
        batch_job.run(batch_df)

    writer = source.writeStream.foreachBatch(run_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_to_parquet(
    source: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    row_group_rows: int = 1 << 16,
    trigger_available_now: bool = True,
):
    """Streaming sink writing REAL Parquet files with our writer: each
    micro-batch lands as ``batch-{id}/part-*.parquet`` via the
    distributed sink, so any Parquet reader can tail the directory.
    Spark's checkpoint + the per-batch subdirectory make re-delivery
    idempotent (a re-run batch overwrites its own directory only)."""
    import os

    from cpp_parquet_spark.sink import write_parquet_dir

    def run_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_dir = os.path.join(out_dir, f"batch-{batch_id}")
        write_parquet_dir(batch_df, batch_dir, row_group_rows=row_group_rows)

    writer = source.writeStream.foreachBatch(run_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization (gaps-and-islands): a session breaks when a
    user's inter-event gap exceeds ``gap_minutes``.  Window functions
    only — fully SQL-expressible, the oracle for the streaming variant.

    One shuffle on user_id; at 100 TB the per-user state is a sort
    within partitions, no driver involvement.
    """
    from pyspark.sql.window import Window

    ev = events.withColumn("ts", F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts")
    prev = F.lag("ts").over(w)
    # gap math in microseconds: the event timestamps carry sub-second
    # precision, and second-truncating casts would disagree with both
    # the streaming variant and the SQL oracle on borderline gaps
    is_new = (
        prev.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev)) > gap_minutes * 60 * 1_000_000)
    ).cast("long")
    sid = F.sum(is_new).over(
        Window.partitionBy("user_id").orderBy("ts").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ev.withColumn("sid", sid)
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


def sessionize_stream(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """Custom stateful streaming sessionization via
    ``applyInPandasWithState``: per-user open-session state, sessions
    emitted when closed by a later event's gap or by event-time timeout.
    State per user is O(1) (start, last_ts, count, sum) — bounded
    regardless of stream length; the watermark bounds how long an open
    session lingers.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("session_start", TimestampType()),
            StructField("session_end", TimestampType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("start", LongType()),  # micros
            StructField("last", LongType()),
            StructField("n", LongType()),
            StructField("total", DoubleType()),
        ]
    )
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdf_iter, state: GroupState):
        import datetime as dt

        (user_id,) = key
        sessions = []

        def emit(s):
            sessions.append(
                (
                    user_id,
                    dt.datetime.utcfromtimestamp(s[0] / 1e6),
                    dt.datetime.utcfromtimestamp(s[1] / 1e6),
                    s[2],
                    round(s[3], 2),
                )
            )

        if state.hasTimedOut:
            if state.exists:
                emit(tuple(state.get))
                state.remove()
        else:
            import numpy as np

            cur = tuple(state.get) if state.exists else None
            parts = [(p["ts"].astype("int64").to_numpy() // 1000, p["value"].to_numpy()) for p in pdf_iter]
            ts_us = np.concatenate([p[0] for p in parts]) if parts else np.zeros(0, np.int64)
            vals = np.concatenate([p[1] for p in parts]) if parts else np.zeros(0)
            order = np.argsort(ts_us, kind="stable")
            ts_us, vals = ts_us[order], vals[order]
            m = len(ts_us)
            if m:
                # vectorized gaps-and-islands; Python touches sessions, not events
                brk = np.ones(m, dtype=bool)
                brk[1:] = np.diff(ts_us) > gap_us
                starts = np.flatnonzero(brk)
                ends = np.append(starts[1:], m)
                sums = np.add.reduceat(vals, starts)
                groups = [
                    (int(ts_us[s]), int(ts_us[e - 1]), int(e - s), float(sums[i]))
                    for i, (s, e) in enumerate(zip(starts, ends))
                ]
                if cur is not None:
                    if ts_us[0] - cur[1] <= gap_us:  # first group continues the open session
                        g = groups[0]
                        groups[0] = (cur[0], g[1], cur[2] + g[2], cur[3] + g[3])
                    else:
                        emit(cur)
                for g in groups[:-1]:
                    emit(g)
                cur = groups[-1]
            if cur is not None:
                state.update(cur)
                state.setTimeoutTimestamp(cur[1] // 1000 + gap_minutes * 60 * 1000)
        yield pd.DataFrame(
            sessions,
            columns=["user_id", "session_start", "session_end", "n_events", "total_value"],
        )

    ev = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark("ts", watermark)
    return ev.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def windowed_event_stats(events: DataFrame, watermark: str = "10 minutes", window: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregation over the driver's events
    table shape (event_id, ts, user_id, event_type, value, props) —
    late rows beyond the watermark are dropped, state is bounded."""
    # watermarks require TIMESTAMP (LTZ); parquet often reads as NTZ
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
            "approx_users",
        )
    )


DEDUP_KEY_COLS = ("user_id", "event_type", "props")


def _event_key(cols=DEDUP_KEY_COLS) -> "F.Column":
    """Content hash over int/string columns only — doubles are excluded
    because float->string formatting is engine-specific and the batch
    twin must be recomputable bit-identically in SQL."""
    return F.sha2(
        F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols]), 256
    )


def dedup_events_first_seen(events: DataFrame, key_cols=DEDUP_KEY_COLS) -> DataFrame:
    """Batch exact-dedup of an event stream: one row per content key,
    carrying the first-seen timestamp/event and the duplicate count —
    the SQL-expressible twin (and oracle) of :func:`dedup_events_stream`.

    One aggregation shuffle on the 32-byte content hash; at 100 TB the
    state per key is O(1) and the key space is bounded by distinct
    content, never by row count."""
    keyed = events.withColumn("k", _event_key(key_cols))
    return keyed.groupBy("k").agg(
        F.min("user_id").alias("user_id"),
        F.min("event_type").alias("event_type"),
        F.min("props").alias("props"),
        F.min("event_id").alias("first_event_id"),
        F.min(F.col("ts").cast("timestamp")).cast("string").alias("first_ts"),
        F.count("*").alias("n_occurrences"),
    )


def dedup_events_stream(
    events: DataFrame, watermark: str = "10 minutes", key_cols=DEDUP_KEY_COLS
) -> DataFrame:
    """Streaming exact-dedup: ``dropDuplicatesWithinWatermark`` on the
    content hash — the streaming front door of
    :func:`dedup_events_first_seen`.  State holds one entry per
    distinct key seen inside the watermark horizon and is evicted as
    the watermark advances (bounded state, unlike an unwindowed
    dropDuplicates); re-delivered rows inside the horizon are dropped,
    which is what makes at-least-once upstream delivery effectively
    exactly-once downstream."""
    ev = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", watermark
    )
    return ev.withColumn("k", _event_key(key_cols)).dropDuplicatesWithinWatermark(["k"])
