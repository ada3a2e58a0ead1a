"""End-to-end Spark engine tests: encode → decode → bit-identity.

The content-sha256 per-row equality is the north-rule invariant
(BASELINE.json input_hint); these tests are the `python -m pytest -x -q`
verification it names.
"""

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from cpp_parquet_spark.datagen import (
    source_repos_from_documents,
    synthetic_source_repos,
)
from cpp_parquet_spark.engine import (
    decode_dataframe,
    encode_chunks,
    encode_dataframe,
    encode_pipeline,
    partition_for_encoding,
    size_report,
)
from cpp_parquet_spark.schema_plan import plan_from_schema


def _roundtrip_check(df, keys):
    chunks = encode_dataframe(df).cache()
    decoded = decode_dataframe(chunks, df.schema)
    a = df.withColumn("_sha", F.sha2(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in df.columns]), 256))
    b = decoded.withColumn("_sha", F.sha2(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in df.columns]), 256))
    n = df.count()
    assert decoded.count() == n
    # order-insensitive exact equality via sha multiset
    diff = a.select("_sha").exceptAll(b.select("_sha")).count()
    assert diff == 0, f"{diff} rows differ after roundtrip"
    return chunks


def test_source_repos_roundtrip_sha(spark, sf_small):
    src = source_repos_from_documents(spark, sf_small)
    chunks = _roundtrip_check(src, ["repo", "path"])
    rep = {r["column"]: r for r in size_report(chunks).collect()}
    # north rule: compressed size <= reference PLAIN size, per column and total
    total_enc = sum(r["encoded_bytes"] for r in rep.values())
    total_plain = sum(r["plain_bytes"] for r in rep.values())
    assert total_enc <= total_plain
    # lang column must compress massively (12 distinct values)
    assert rep["lang"]["ratio"] > 3


def test_lineitem_roundtrip(spark, sf_small):
    df = spark.read.parquet(f"{sf_small}/lineitem.parquet")
    _roundtrip_check(df, ["l_orderkey", "l_linenumber"])


def test_embeddings_roundtrip_lists(spark, sf_small):
    df = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    chunks = encode_dataframe(df).cache()
    decoded = decode_dataframe(chunks, df.schema)
    a = sorted(df.collect(), key=lambda r: r["vec_id"])
    b = sorted(decoded.collect(), key=lambda r: r["vec_id"])
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra["vec_id"] == rb["vec_id"]
        assert ra["embedding"] == rb["embedding"]
        assert ra["label"] == rb["label"]


def test_nulls_roundtrip(spark):
    df = spark.createDataFrame(
        [(i, None if i % 3 == 0 else f"v{i}", None if i % 7 == 0 else float(i)) for i in range(1000)],
        "id bigint, s string, x double",
    )
    _roundtrip_check(df, ["id"])


def test_chunk_rows_caps_chunks_inside_a_batch(spark):
    # one partition of 20000 rows arrives as 8192-row Arrow batches; a
    # chunk must still close at chunk_rows, not at the next batch boundary
    df = spark.range(20000).coalesce(1).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("s")
    )
    chunks = encode_dataframe(df, chunk_rows=16).cache()
    sizes = chunks.groupBy("part_id", "chunk_id").agg(F.max("num_rows").alias("n")).collect()
    assert max(r["n"] for r in sizes) <= 16
    assert sum(r["n"] for r in sizes) == 20000
    decoded = decode_dataframe(chunks, df.schema)
    assert sorted(decoded.collect()) == sorted(df.collect())


def test_chunk_rows_below_one_is_refused():
    batch = pa.RecordBatch.from_pydict({"id": pa.array([1, 2, 3], pa.int64())})
    chunks = encode_chunks([batch], plan_from_schema(batch.schema), 0)
    with pytest.raises(ValueError, match="chunk_rows"):
        next(chunks)


def test_encode_pipeline_partitions_and_salts(spark, sf_small):
    src = source_repos_from_documents(spark, sf_small)
    chunks = encode_pipeline(src, num_partitions=4).cache()
    assert chunks.select("part_id").distinct().count() <= 4
    decoded = decode_dataframe(chunks, src.schema)
    assert decoded.count() == src.count()


@pytest.mark.parametrize("kind", ["string", "boolean", "double"])
def test_partition_for_encoding_salting(spark, kind):
    if kind == "string":
        # skewed synthetic input: repo 0 owns ~30% of rows
        df = synthetic_source_repos(spark, 20000, parts=4)
        out = partition_for_encoding(df, num_partitions=8)
        key = "repo"
    else:
        # one value of a typed key owns 90% of the rows
        hot = F.col("id") % 10 != 0
        k = hot if kind == "boolean" else F.when(hot, F.lit(0.5)).otherwise(F.col("id").cast("double"))
        df = spark.range(0, 20000, 1, 4).select(
            k.alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("v")
        )
        out = partition_for_encoding(df, keys=("k",), num_partitions=8)
        key = "k"
    # the skewed keys must be split across >1 partition
    parts_per_key = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy(key)
        .agg(F.countDistinct("pid").alias("nparts"), F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 4000)
        .collect()
    )
    assert parts_per_key
    assert all(r["nparts"] > 1 for r in parts_per_key), parts_per_key
    # no rows lost or duplicated
    assert out.count() == 20000
    assert out.exceptAll(df).count() == 0


def test_encode_pipeline_plan_is_one_range_exchange(spark):
    """With codec hints, encode_pipeline builds its plan without running
    a Spark job (the range partitioner samples inside the caller's
    action), and the plan holds one shuffle: the range repartition."""
    df = synthetic_source_repos(spark, 2000, parts=2)
    sc = spark.sparkContext
    sc.setJobGroup("encode-pipeline-plan", "plan only")
    try:
        chunks = encode_pipeline(df, num_partitions=4, codec_hints={"lang": "dict"})
        assert list(sc.statusTracker().getJobIdsForGroup("encode-pipeline-plan")) == []
        plan = chunks._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange rangepartitioning") == 1, plan
        assert plan.count("Exchange ") == 1, plan
        assert chunks.agg(F.sum("num_rows")).collect()[0][0] == 2000 * len(df.columns)
        assert list(sc.statusTracker().getJobIdsForGroup("encode-pipeline-plan"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_range_layout_prunes_repo_chunks(spark):
    """Range partitions hold narrow (lang, repo) ranges, so the chunk
    stats of a repo-equality predicate rule out some chunks; under a
    hash layout every chunk spans every repo and all are kept."""
    from cpp_parquet_spark.engine import prune_chunks

    df = synthetic_source_repos(spark, 20000, parts=4)
    chunks = encode_pipeline(df, num_partitions=8).cache()
    repo = "org7/repo107"  # one of the 199 equally popular repos
    pruned = prune_chunks(chunks, df.schema, "repo", lower=repo, upper=repo)
    n_all = chunks.select("part_id", "chunk_id").distinct().count()
    n_kept = pruned.select("part_id", "chunk_id").distinct().count()
    assert 0 < n_kept < n_all, (n_kept, n_all)
    got = decode_dataframe(pruned, df.schema).filter(F.col("repo") == repo)
    exp = df.filter(F.col("repo") == repo)
    assert exp.count() > 0
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    chunks.unpersist()


def test_synthetic_deterministic(spark):
    a = synthetic_source_repos(spark, 500).collect()
    b = synthetic_source_repos(spark, 500).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    langs = {r["lang"] for r in a}
    assert "python" in langs and len(langs) >= 6
    for r in a[:20]:
        assert len(r["commit"]) == 40
        assert 64 <= len(r["content"])


def test_list_of_struct_roundtrip(spark):
    """Multi-leaf columns under a list (array<struct<a,b,c>>) decode —
    the last hole in the Dremel story (the reference's deep-nesting
    matrix, parquet-file-test.cc:515-600, is the spirit).  Every
    leaf's def/rep stream passes through the codecs; reassembly zips
    the per-leaf wrappers back together."""
    from pyspark.sql import functions as F

    from cpp_parquet_spark.engine import decode_dataframe, encode_dataframe

    base = spark.range(0, 300).select(
        (F.col("id") % 37).alias("k"),
        F.col("id").alias("v"),
        F.when(F.col("id") % 3 == 0, None).otherwise(F.col("id") * 2).alias("w"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.concat(F.lit("s"), F.col("id")))
        .alias("s"),
    )
    nested = base.groupBy("k").agg(F.collect_list(F.struct("v", "w", "s")).alias("items"))
    dec = decode_dataframe(encode_dataframe(nested), nested.schema)
    back = dec.select("k", F.explode("items").alias("i")).select(
        "k", F.col("i.v").alias("v"), F.col("i.w").alias("w"), F.col("i.s").alias("s")
    )
    src = base.select("k", "v", "w", "s")
    assert back.count() == 300
    assert back.exceptAll(src).count() == 0 and src.exceptAll(back).count() == 0


def test_order_keys_preserve_order():
    """stats.order_key: unsigned-lexicographic byte order == value order
    across the type matrix, including negatives, floats, and the
    truncated-string round-up contract."""
    import random

    from cpp_parquet_spark.stats import MAX_KEY_BYTES, order_key

    rng = random.Random(7)
    ints = sorted(
        [rng.randint(-(2**62), 2**62 - 1) for _ in range(200)]
        + [0, -1, 1, -(2**62), 2**62 - 1]
    )
    keys = [order_key(v, pa.int64()) for v in ints]
    assert keys == sorted(keys)
    floats = sorted(
        [rng.uniform(-1e18, 1e18) for _ in range(200)] + [0.0, 1e-300, -1e-300, float("inf"), float("-inf")]
    )
    fkeys = [order_key(v, pa.float64()) for v in floats]
    assert fkeys == sorted(fkeys)
    # IEEE total order: -0.0 sorts strictly below +0.0 (conservative for stats)
    assert order_key(-0.0, pa.float64()) < order_key(0.0, pa.float64())
    strs = sorted("".join(rng.choices("ab\xff", k=rng.randint(0, 8))) for _ in range(200))
    skeys = [order_key(s, pa.string()) for s in strs]
    assert skeys == sorted(skeys)
    # truncated max rounds OUTWARD: key is >= the full value's bytes
    long = "z" * 100 + "a"
    up = order_key(long, pa.string(), round_up=True)
    assert up is not None and len(up) <= MAX_KEY_BYTES and up > long.encode()[:MAX_KEY_BYTES]
    lo = order_key(long, pa.string(), round_up=False)
    assert lo == long.encode()[:MAX_KEY_BYTES] <= long.encode()


def test_chunk_stats_bound_values():
    from cpp_parquet_spark.stats import chunk_stats, order_key

    arr = pa.array([5, -17, 9000, None, 42], pa.int64())
    mn, mx = chunk_stats(arr.drop_null())
    assert mn == order_key(-17, pa.int64())
    assert mx == order_key(9000, pa.int64())
    assert chunk_stats(pa.array([], pa.int64())) == (None, None)


def test_prune_chunks_correct_and_effective(spark):
    """Pruning on a sorted key keeps the answer exact AND drops most
    chunks; decoded output equals the unpruned filter."""
    from cpp_parquet_spark.engine import decode_dataframe, encode_dataframe, prune_chunks

    df = (
        spark.range(0, 40_000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 97).cast("double").alias("v"),
            F.concat(F.lit("row-"), F.col("id")).alias("s"),
        )
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    chunks = encode_dataframe(df, chunk_rows=2048)
    chunks.cache()
    total_chunks = chunks.select("part_id", "chunk_id").distinct().count()
    pruned = prune_chunks(chunks, df.schema, "k", lower=10_000, upper=12_000)
    kept_chunks = pruned.select("part_id", "chunk_id").distinct().count()
    assert kept_chunks < total_chunks / 3  # sorted input -> real pruning
    decoded = decode_dataframe(pruned, df.schema).filter(
        (F.col("k") >= 10_000) & (F.col("k") <= 12_000)
    )
    got = decoded.agg(
        F.count("*"), F.sum("k"), F.round(F.sum("v"), 2), F.min("s"), F.max("s")
    ).collect()[0]
    exp = (
        spark.range(10_000, 12_001)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 97).cast("double").alias("v"),
            F.concat(F.lit("row-"), F.col("id")).alias("s"),
        )
        .agg(F.count("*"), F.sum("k"), F.round(F.sum("v"), 2), F.min("s"), F.max("s"))
        .collect()[0]
    )
    assert tuple(got) == tuple(exp)
    chunks.unpersist()


def test_prune_chunks_all_null_and_no_bounds(spark):
    from cpp_parquet_spark.engine import decode_dataframe, encode_dataframe, prune_chunks

    df = spark.range(0, 1000).select(
        F.lit(None).cast("long").alias("n"), F.col("id").alias("k")
    )
    chunks = encode_dataframe(df, chunk_rows=256)
    # range predicate on an all-null column prunes everything (NULL
    # satisfies no range predicate)
    assert prune_chunks(chunks, df.schema, "n", lower=0).count() == 0
    # no bounds -> untouched
    assert prune_chunks(chunks, df.schema, "n").count() == chunks.count()
    with pytest.raises(KeyError):
        prune_chunks(chunks, df.schema, "nope", lower=1)


def test_prune_chunks_keeps_unbounded_above_stats(spark):
    """A string chunk whose max truncates to 64 bytes of 0xFF has
    stat_max=NULL ("unbounded above", stats._bytes_key) but LIVE data;
    a lower-bound predicate must keep it, not silently drop rows."""
    from cpp_parquet_spark.engine import decode_dataframe, encode_dataframe, prune_chunks

    # a value whose raw first 64 bytes are all 0xFF: use binary, not
    # str, to control the key bytes exactly
    schema_df = spark.createDataFrame(
        [(1, bytearray(b"\xff" * 70)), (2, bytearray(b"aaa")), (3, bytearray(b"zzz"))],
        "k long, b binary",
    ).repartition(1)
    # one-row Arrow batches -> one chunk per row (the chunker flushes
    # at batch granularity)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        chunks = encode_dataframe(schema_df, chunk_rows=1).cache()
        chunks.count()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    # chunk containing b"\xff"*70: stat_min = 64x0xFF prefix, stat_max NULL
    from cpp_parquet_spark.stats import chunk_stats

    mn, mx = chunk_stats(pa.array([b"\xff" * 70], pa.binary()))
    assert mn == b"\xff" * 64 and mx is None
    pruned = prune_chunks(chunks, schema_df.schema, "b", lower=b"m")
    got = sorted(
        decode_dataframe(pruned, schema_df.schema).select("k").toPandas()["k"].tolist()
    )
    assert got == [1, 3]  # 0xFF-max chunk kept; "aaa" chunk pruned


def test_prune_chunks_vacuous_upper_and_unorderable_key(spark):
    from cpp_parquet_spark.engine import encode_dataframe, prune_chunks
    from cpp_parquet_spark.stats import order_key

    # order_key itself: unorderable dtype -> None
    assert order_key([1, 2], pa.list_(pa.int64())) is None
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    chunks = encode_dataframe(df, chunk_rows=8)
    # an upper bound of 0xFF-bytes rounds up past every key: vacuous,
    # keeps everything rather than pruning everything
    kept = prune_chunks(chunks, df.schema, "s", upper=b"\xff" * 70)
    assert kept.count() == chunks.count()


def test_presample_codecs_and_hinted_encode(spark, sf_small):
    """Driver-side presample returns sane hints; a hinted encode
    produces chunks that decode identically to an unhinted one, with
    the drift guard still protecting against a deliberately bad hint."""
    from cpp_parquet_spark.datagen import source_repos_from_documents
    from cpp_parquet_spark.engine import (
        decode_dataframe,
        encode_dataframe,
        presample_codecs,
    )

    df = source_repos_from_documents(spark, sf_small)
    hints = presample_codecs(df)
    # long-string columns (content) are excluded: their codec ranking
    # is chunk-size-dependent and a prefix-sample hint mis-ranks it
    assert "content" not in hints
    assert {"repo", "lang"} <= set(hints) <= {"repo", "path", "commit", "lang"}
    assert all(isinstance(c, str) and c for c in hints.values())

    chunks = encode_dataframe(df.repartition(2), codec_hints=hints)
    back = decode_dataframe(chunks, df.schema)
    assert sorted(back.collect()) == sorted(df.collect())

    # a nonsense hint: rle shrinks content by ~0.1%, short of its
    # margin over PLAIN, so the drift guard must reselect
    bad = dict(hints, content="rle")
    chunks_bad = encode_dataframe(df.repartition(2), codec_hints=bad)
    used = {r["codec"] for r in chunks_bad.filter(F.col("column") == "content").select("codec").collect()}
    assert "rle" not in used, used
    back_bad = decode_dataframe(chunks_bad, df.schema)
    assert sorted(back_bad.collect()) == sorted(df.collect())


def test_hinted_fsst_cap_gated_on_big_chunks():
    """A hinted/memoized fsst codec must not capture a chunk above the
    selector's 32 MB payload cap (fsst encodes ~12 MB/s/core, r5
    measured; the size-based drift guard can't catch
    slow-but-compressing codecs)."""
    import numpy as np

    from cpp_parquet_spark.engine import _encode_table
    from cpp_parquet_spark.schema_plan import plan_from_schema

    # ~40 MB of mildly repetitive text in one chunk
    rows = 40_000
    vals = pa.array([f"line {i % 997} of synthetic text payload {'x' * 990}" for i in range(rows)])
    tbl = pa.table({"content": vals})
    plans = plan_from_schema(tbl.schema)
    memo = {"content": "fsst"}
    batch = _encode_table(tbl, plans, 0, 0, memo=memo)
    used = batch.column(batch.schema.get_field_index("codec"))[0].as_py()
    assert used != "fsst", used
    assert memo["content"] == used  # memo updated to the reselected codec


def test_carried_codec_that_raises_is_reselected():
    """A carried codec that cannot encode the chunk (alpha over a
    17-byte alphabet) is reselected, not silently replaced by PLAIN."""
    from cpp_parquet_spark.engine import _encode_table
    from cpp_parquet_spark.schema_plan import plan_from_schema

    langs = ["python", "javascript", "rust", "go", "kotlin"]
    tbl = pa.table({"lang": pa.array([langs[i % 5] for i in range(4096)])})
    memo = {"lang": "alpha"}
    batch = _encode_table(tbl, plan_from_schema(tbl.schema), 0, 0, memo=memo)
    assert batch.column("codec").to_pylist() == ["dict"]
    assert memo["lang"] == "dict"


def test_prune_chunks_keeps_stats_failed_chunks(spark):
    """ADVICE r4: a chunk with live values whose stats computation
    failed (stat_min AND stat_max NULL, num_values > 0) must survive
    pruning — only genuinely all-null/empty chunks (num_values == 0)
    may be dropped on NULL stats."""
    from cpp_parquet_spark.engine import decode_dataframe, encode_dataframe, prune_chunks

    df = spark.range(0, 2000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    chunks = encode_dataframe(df, chunk_rows=512)
    # simulate Arrow min_max unavailability: null out every stat key
    # while the data stays live
    broken = chunks.withColumn(
        "stat_min", F.lit(None).cast("binary")
    ).withColumn("stat_max", F.lit(None).cast("binary"))
    pruned = prune_chunks(broken, df.schema, "k", lower=100, upper=200)
    # nothing can be proven out of range -> every chunk kept
    assert pruned.select("part_id", "chunk_id").distinct().count() == \
        chunks.select("part_id", "chunk_id").distinct().count()
    # and the decoded answer is still exact
    got = (
        decode_dataframe(pruned, df.schema)
        .filter((F.col("k") >= 100) & (F.col("k") <= 200))
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()[0]
    )
    assert (got["n"], got["s"]) == (101, sum(2 * k for k in range(100, 201)))


def test_decode_dataframe_predicate_prunes_before_python(spark):
    """Round-5: pruning is the DEFAULT decode surface — a predicate on
    decode_dataframe routes through prune_chunks, and the metadata
    semi-join sits BELOW MapInArrow in the physical plan, so pruned
    payloads never leave the JVM for a Python worker."""
    from cpp_parquet_spark.engine import decode_dataframe, encode_dataframe

    df = (
        spark.range(0, 40_000)
        .select(F.col("id").alias("k"), (F.col("id") % 13).cast("double").alias("v"))
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    chunks = encode_dataframe(df, chunk_rows=2048)
    chunks.cache()
    decoded = decode_dataframe(chunks, df.schema, predicate=("k", 5_000, 6_000))
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    semi = plan.find("LeftSemi")
    assert semi > plan.find("MapInArrow") > -1, plan  # semi-join below = pruned JVM-side
    # exactness: pruned+exact filter == brute-force filter
    got = (
        decoded.filter((F.col("k") >= 5_000) & (F.col("k") <= 6_000))
        .agg(F.count("*").alias("n"), F.sum("k").alias("s"))
        .collect()[0]
    )
    assert (got["n"], got["s"]) == (1001, sum(range(5_000, 6_001)))
    # and the chunk set really shrank
    n_all = chunks.select("part_id", "chunk_id").distinct().count()
    from cpp_parquet_spark.engine import prune_chunks

    n_pruned = (
        prune_chunks(chunks, df.schema, "k", lower=5_000, upper=6_000)
        .select("part_id", "chunk_id")
        .distinct()
        .count()
    )
    assert n_pruned < n_all / 3
    chunks.unpersist()


def test_decode_grouped_narrow_chain_no_exchange(spark):
    """Round-6: decode_dataframe(grouped=True) on the direct in-plan
    output of encode_dataframe chains narrowly — no Exchange between
    the encode and decode MapInArrow nodes — and still reproduces the
    rows exactly."""
    df = spark.range(0, 30_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
        F.concat(F.lit("row-"), F.col("id").cast("string")).alias("s"),
    ).repartition(4)
    enc = encode_dataframe(df, chunk_rows=4096)
    decoded = decode_dataframe(enc, df.schema, grouped=True)
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    # one Exchange from the repartition(4); none between the MapInArrows
    first_map = plan.find("MapInArrow")
    second_map = plan.find("MapInArrow", first_map + 1)
    assert second_map > -1, plan
    assert "Exchange" not in plan[first_map:second_map], plan
    got = decoded.agg(
        F.count("*").alias("n"), F.sum("k").alias("sk"), F.sum(F.length("s")).alias("ls")
    ).collect()[0]
    want = df.agg(
        F.count("*").alias("n"), F.sum("k").alias("sk"), F.sum(F.length("s")).alias("ls")
    ).collect()[0]
    assert (got["n"], got["sk"], got["ls"]) == (want["n"], want["sk"], want["ls"])


def test_decode_grouped_window_prune_matches_semi_join(spark):
    """Round-6: the grouped window prune (predicate + grouped=True)
    keeps exactly the chunk groups the semi-join form keeps — without
    re-executing the upstream encode (the semi-join plan contained the
    whole encode subtree twice; the window prune plan contains it once)."""
    df = (
        spark.range(0, 40_000)
        .select(F.col("id").alias("k"), (F.col("id") % 13).cast("double").alias("v"))
        .repartitionByRange(4, "k")
        .sortWithinPartitions("k")
    )
    chunks = encode_dataframe(df, chunk_rows=2048)
    decoded = decode_dataframe(chunks, df.schema, predicate=("k", 5_000, 6_000), grouped=True)
    plan = decoded._jdf.queryExecution().executedPlan().toString()
    # exactly ONE encode subtree in the plan (the semi-join form had two)
    assert plan.count("encode_batches") == 1, plan
    got = (
        decoded.filter((F.col("k") >= 5_000) & (F.col("k") <= 6_000))
        .agg(F.count("*").alias("n"), F.sum("k").alias("s"))
        .collect()[0]
    )
    assert (got["n"], got["s"]) == (1001, sum(range(5_000, 6_001)))
    # the window prune must decode exactly the rows of the semi-join
    # prune's surviving chunk set — not all 40k rows (a no-op prune
    # would still pass the exact-filter assertion above)
    from cpp_parquet_spark.engine import prune_chunks

    chunks.cache()
    semi_pruned = prune_chunks(chunks, df.schema, "k", lower=5_000, upper=6_000)
    semi_rows = (
        semi_pruned.filter(F.col("column") == "k").agg(F.sum("num_rows")).collect()[0][0]
    )
    window_rows = decoded.count()
    assert window_rows == semi_rows, (window_rows, semi_rows)
    assert window_rows < 40_000 / 3
    n_all = chunks.select("part_id", "chunk_id").distinct().count()
    n_semi = semi_pruned.select("part_id", "chunk_id").distinct().count()
    assert 0 < n_semi < n_all / 3
    chunks.unpersist()


def test_partition_for_encoding_bytes_salting(spark):
    """Round-6: one fat repo (half the rows, ~60 MB) must be split
    across >1 partition, and the split must not lose or duplicate rows."""
    big = spark.range(0, 3000).select(
        F.lit("py").alias("lang"),
        F.lit("megarepo").alias("repo"),
        F.concat(F.lit("p"), F.col("id").cast("string")).alias("path"),
        F.sha2(F.col("id").cast("string"), 256).alias("commit"),
        # ~20 KB per row -> ~60 MB for one key
        F.repeat(F.concat(F.lit("line of code "), F.col("id").cast("string"), F.lit("\n")), 1000).alias("content"),
    )
    small = spark.range(0, 3000).select(
        F.lit("go").alias("lang"),
        F.concat(F.lit("r"), (F.col("id") % 50).cast("string")).alias("repo"),
        F.concat(F.lit("q"), F.col("id").cast("string")).alias("path"),
        F.sha2(F.col("id").cast("string"), 256).alias("commit"),
        F.lit("tiny").alias("content"),
    )
    df = big.unionByName(small)
    out = partition_for_encoding(df, num_partitions=8)
    stats = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("repo")
        .agg(F.countDistinct("pid").alias("nparts"), F.count("*").alias("cnt"))
        .collect()
    )
    by_repo = {r["repo"]: r for r in stats}
    # megarepo holds half the rows of 8 range partitions: it must be split
    assert by_repo["megarepo"]["nparts"] > 1, stats
    # no rows lost or duplicated by the salting
    assert sum(r["cnt"] for r in stats) == 6000
    assert by_repo["megarepo"]["cnt"] == 3000
