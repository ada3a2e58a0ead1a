"""Structured Streaming tests: streaming encode (foreachBatch ->
EncodeJob) and watermarked windowed aggregation."""

import pytest
from pyspark.sql import functions as F

from cpp_parquet_spark.datagen import source_repos_from_documents
from cpp_parquet_spark.lineage import EncodeJob
from cpp_parquet_spark.streaming import encode_stream, windowed_event_stats


def test_streaming_encode_availablenow(spark, tmp_path):
    # stage the F1 table as files, stream them in, encode each batch
    src_dir = str(tmp_path / "src")
    src = source_repos_from_documents(spark, "/root/testdata/sf0.001")
    src.write.parquet(src_dir)

    stream = spark.readStream.schema(src.schema).option("maxFilesPerTrigger", 2).parquet(src_dir)
    job = EncodeJob(str(tmp_path / "job"), num_parts=4, chunk_rows=4096, snapshot_id="s")
    q = encode_stream(stream, job, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    decoded = job.decode(spark, src.schema)
    assert decoded.count() == src.count()
    a = src.select(F.sha2("content", 256).alias("s"))
    b = decoded.select(F.sha2("content", 256).alias("s"))
    assert a.exceptAll(b).count() == 0
    # one lineage snapshot per micro-batch
    snaps = {r["snapshot_id"] for r in job.lineage(spark).collect()}
    assert all(s.startswith("s-b") for s in snaps)


def test_streaming_encode_multi_batch(spark, tmp_path, sf_small):
    """Several micro-batches commit several snapshots into one store:
    each batch's parts are committed under its own snapshot id, and the
    store is their union (no batch skips or replaces another's parts)."""
    import os

    src_dir = str(tmp_path / "src")
    src = source_repos_from_documents(spark, sf_small)
    src.repartition(3).write.parquet(src_dir)
    n_files = len([n for n in os.listdir(src_dir) if n.endswith(".parquet")])
    assert n_files >= 3

    stream = spark.readStream.schema(src.schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    job = EncodeJob(str(tmp_path / "job"), num_parts=4, chunk_rows=4096, snapshot_id="s")
    q = encode_stream(stream, job, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    decoded = job.decode(spark, src.schema)
    assert decoded.count() == src.count()
    a = src.select(F.sha2("content", 256).alias("s"))
    b = decoded.select(F.sha2("content", 256).alias("s"))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    # one lineage snapshot per micro-batch
    snaps = {r["snapshot_id"] for r in job.lineage(spark).collect()}
    assert snaps == {f"s-b{i}" for i in range(n_files)}


def test_stream_to_real_parquet(spark, tmp_path):
    """Streaming micro-batches land as real Parquet part files that
    Spark's own reader (an independent parser) reads back."""
    from cpp_parquet_spark.streaming import stream_to_parquet

    src_dir = str(tmp_path / "src")
    src = source_repos_from_documents(spark, "/root/testdata/sf0.001")
    src.write.parquet(src_dir)

    stream = spark.readStream.schema(src.schema).option("maxFilesPerTrigger", 2).parquet(src_dir)
    out_dir = str(tmp_path / "out")
    q = stream_to_parquet(stream, out_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    back = spark.read.option("recursiveFileLookup", "true").parquet(out_dir)
    assert back.count() == src.count()
    a = src.select(F.sha2("content", 256).alias("s"))
    b = back.select(F.sha2("content", 256).alias("s"))
    assert a.exceptAll(b).count() == 0


def test_windowed_event_stats_batch_semantics(spark):
    # run the streaming aggregation in batch mode to pin its semantics
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_event_stats(events).collect()
    assert len(out) > 0
    total = sum(r["n_events"] for r in out)
    assert total == events.count()
    assert all(r["window_end"] > r["window_start"] for r in out)


def test_sessionize_batch_semantics(spark):
    from cpp_parquet_spark.streaming import sessionize

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    s = sessionize(events, gap_minutes=30).collect()
    assert sum(r["n_events"] for r in s) == events.count()
    for r in s:
        assert r["session_end"] >= r["session_start"]
    # sessions of one user are separated by more than the gap
    by_user = {}
    for r in s:
        by_user.setdefault(r["user_id"], []).append(r)
    import datetime as dt

    for rows in by_user.values():
        rows.sort(key=lambda r: r["session_start"])
        for a, b in zip(rows, rows[1:]):
            assert (b["session_start"] - a["session_end"]) > dt.timedelta(minutes=30)


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessions == batch gaps-and-islands for
    every session the stream closes (open sessions at end-of-stream may
    stay in state if no timeout fires)."""
    from cpp_parquet_spark.streaming import sessionize, sessionize_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src_dir = str(tmp_path / "ev")
    # multiple files so sessions span micro-batches
    events.orderBy("ts").coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema(events.schema).option("maxFilesPerTrigger", 1).parquet(src_dir)
    q = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], round(r["total_value"], 2))
        for r in spark.sql("select * from sess").collect()
    }
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"], round(r["total_value"], 2))
        for r in sessionize(events, gap_minutes=30).collect()
    }
    assert got <= batch, f"stream emitted sessions not in batch: {list(got - batch)[:3]}"
    # the stream must close the overwhelming majority (all but per-user tails)
    n_users = events.select("user_id").distinct().count()
    assert len(got) >= len(batch) - n_users


def test_windowed_event_stats_streaming_drops_state(spark, tmp_path):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src_dir = str(tmp_path / "ev")
    events.write.parquet(src_dir)
    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    agg = windowed_event_stats(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("ev_stats")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # append mode only emits windows closed by the watermark; with a
    # single batch nothing may close — the assertion is that the
    # streaming plan is valid and runs to completion
    assert q.lastProgress is not None


def test_dedup_events_stream_matches_batch_keys(spark, tmp_path):
    """Round-5 streaming exact-dedup: dropDuplicatesWithinWatermark on
    the content hash emits exactly one row per distinct key (ordered
    input, duplicates within the watermark horizon), matching the batch
    twin's key set; the batch twin's n_occurrences proves the input had
    real duplicates to drop."""
    from cpp_parquet_spark.streaming import dedup_events_first_seen, dedup_events_stream

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src_dir = str(tmp_path / "ev")
    events.orderBy("ts").coalesce(1).write.parquet(src_dir)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        dedup_events_stream(stream, watermark="365 days")
        .writeStream.format("memory")
        .queryName("dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.sql("select k from dedup").collect()
    got_keys = [r["k"] for r in got]
    assert len(got_keys) == len(set(got_keys)), "stream emitted a duplicate key"
    batch = dedup_events_first_seen(events).collect()
    assert set(got_keys) == {r["k"] for r in batch}
    # the test is non-vacuous only if the input really had duplicates
    assert sum(r["n_occurrences"] - 1 for r in batch) > 0
    assert events.count() == sum(r["n_occurrences"] for r in batch)
