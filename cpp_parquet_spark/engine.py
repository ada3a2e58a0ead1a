"""The Spark-side engine: distributed encode/decode pipelines.

This is the Spark equivalent of the reference's writer lifecycle
(SURVEY.md §3): where cpp-parquet buffers whole columns in one process
and flushes once (parquet-file.cc:118-177), this engine expresses the
same ingest → shred → encode → serialize dataflow as

    df.repartitionByRange(N, lang, repo, row_hash)  # explicit shuffle
      .mapInArrow(encode_batches, CHUNK_SCHEMA)     # vectorized encoders

with every per-value operation inside numpy/Arrow kernels — no per-row
Python (input_hint).  Decoding is the inverse mapInArrow over chunk
rows grouped per (part_id, chunk_id).  Both sides cut their Arrow
batch stream with the one grouper the Parquet writer uses for row
groups, ``parquet_writer.bounded_groups``: encode chunks hold at most
``chunk_rows`` rows of one part, and decode groups are the runs of one
(part_id, chunk_id).

Scale notes (designed for ~100 TB / 1000 executors, tested local[32]):
* the only full-data shuffle is the explicit range repartition; each
  partition holds a narrow (lang, repo) range, which is what makes
  rle/dict win on lang/repo columns and keeps chunk stats prunable, so
  the shuffle buys compression;
* skewed keys split without a separate job: ``row_hash`` (xxhash64 of
  the non-key columns) is the last sort key, so the range partitioner's
  sampled bounds can fall inside a heavy key.  The bounds balance rows,
  not bytes;
* ``chunk_rows`` caps the rows of a chunk, even inside one Arrow
  batch, so executor memory per task is bounded regardless of input
  size;
* chunk metadata (one row per column chunk) is ~6 rows per 64k input
  rows — the metadata table is ~1e5 smaller than the data, safe to
  aggregate/collect.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from cpp_parquet_spark.parquet_writer import bounded_groups
from cpp_parquet_spark.schema_plan import ColumnPlan, plan_from_schema, plan_from_spark_schema
from cpp_parquet_spark.session import forget_zip_finders

CHUNK_SCHEMA = StructType(
    [
        StructField("part_id", IntegerType(), False),
        StructField("chunk_id", LongType(), False),
        StructField("column", StringType(), False),
        StructField("codec", StringType(), False),
        StructField("physical", StringType(), False),
        StructField("num_rows", LongType(), False),
        StructField("num_entries", LongType(), False),
        StructField("num_values", LongType(), False),
        StructField("plain_bytes", LongType(), False),
        StructField("plain_value_bytes", LongType(), False),
        StructField("encoded_bytes", LongType(), False),
        StructField("encode_ms", LongType(), False),
        StructField("stat_min", BinaryType(), True),
        StructField("stat_max", BinaryType(), True),
        StructField("payload", BinaryType(), False),
    ]
)

_CHUNK_ARROW = to_arrow_schema(CHUNK_SCHEMA)

DEFAULT_CHUNK_ROWS = 1 << 16


def _encode_table(
    table: pa.Table,
    plans: list[ColumnPlan],
    part_id: int,
    chunk_id: int,
    memo: dict | None = None,
) -> pa.RecordBatch:
    from cpp_parquet_spark.chunk import serialize_chunk
    from cpp_parquet_spark.kernels.levels import shred
    from cpp_parquet_spark.selector import CODEC_ERRORS, MARGIN, select_codec
    from cpp_parquet_spark.stats import chunk_stats

    import time

    def serialize(sh, codec):
        try:
            return (codec, *serialize_chunk(sh, codec))
        except CODEC_ERRORS:
            return None

    rows: list[tuple] = []
    n_rows = table.num_rows
    for plan in plans:
        t0 = time.time()
        col = table.column(plan.path[0])
        arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
        sh = shred(arr, plan)
        # per-task codec memo: at pipeline chunk sizes the trial-encode
        # selection costs as much as encoding itself; consecutive chunks
        # of one partition are near-identically distributed (the shuffle
        # clusters them), so carry the last choice (or a hint) over and
        # reselect below if it drifts
        codec = memo.get(plan.dotted) if memo is not None else None
        if codec == "fsst" and sh.values.nbytes > 32e6:
            # re-apply the selector's own payload cap (selector.py
            # shortlist) at chunk level: a carried fsst must not capture
            # a content-sized chunk that per-chunk selection would have
            # cap-gated — fsst encodes at ~12 MB/s/core (r5 measured,
            # blocked replay; gated by test_fsst_encode_throughput_gate)
            # and the size-based drift guard cannot catch a
            # slow-but-compressing codec
            codec = None
        out = serialize(sh, codec) if codec else None
        if out is None or out[2].encoded_bytes > out[2].plain_bytes * MARGIN.get(codec, 1.0):
            # drift guard: the carried codec cannot encode this chunk or
            # no longer clears its selection margin over PLAIN — reselect.
            # PLAIN always works where a sample-based choice fails on the
            # full chunk (e.g. alpha alphabet overflow).
            out = serialize(sh, select_codec(sh.values, plan.physical)) or ("plain", *serialize_chunk(sh, "plain"))
        codec, blob, meta = out
        if memo is not None:
            memo[plan.dotted] = codec
        rows.append(
            (
                part_id,
                chunk_id,
                plan.dotted,
                codec,
                plan.physical,
                n_rows,
                meta.num_entries,
                meta.num_values,
                meta.plain_bytes,
                meta.plain_value_bytes,
                meta.encoded_bytes,
                int((time.time() - t0) * 1000),
                *chunk_stats(sh.values),
                blob,
            )
        )
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, _CHUNK_ARROW)], schema=_CHUNK_ARROW
    )


def presample_codecs(df: DataFrame) -> dict[str, str]:
    """Driver-side codec pre-selection: run the selector once on an
    8192-row prefix sample and return {leaf column -> codec} hints.

    The hints seed every task's codec memo, so a task's first chunk
    skips trial-encode selection.  What that saves is small: full
    selection of the four hinted columns of a 4,500-row chunk of
    perfbench's repo table takes about 37 ms (4-vCPU VM, median of 7),
    against one extra driver job per call.  A hinted codec is kept only
    while its chunk clears that codec's margin over PLAIN
    (``selector.MARGIN``); a chunk where it falls short, or that it
    cannot encode, is reselected (the drift guard in
    :func:`_encode_table`), and the memo refresh re-runs true selection
    every ``_RESELECT`` chunks for long tasks.
    """
    from cpp_parquet_spark.kernels.levels import shred
    from cpp_parquet_spark.selector import select_codec

    tbl = df.limit(8192).toArrow()
    hints: dict[str, str] = {}
    for plan in plan_from_spark_schema(df.schema):
        col = tbl.column(plan.path[0])
        arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
        sh = shred(arr, plan)
        if plan.physical == "BYTE_ARRAY" and len(sh.values):
            avg_len = sh.values.nbytes / max(len(sh.values), 1)
            if avg_len > 64:
                # long-string codecs are size-dependent (lined's line
                # dictionary needs many rows to pay off; fsst wins on
                # small trials) — a prefix-sample hint mis-ranks them
                # (measured: content hinted fsst = 3.1x vs per-chunk
                # lined = 9.9x).  Leave such columns to true per-chunk
                # selection.
                continue
        hints[plan.dotted] = select_codec(sh.values, plan.physical)
    return hints


def encode_chunks(
    batches: Iterable[pa.RecordBatch],
    plans: list[ColumnPlan],
    chunk_rows: int,
    codec_hints: dict[str, str] | None = None,
    part_col: str | None = None,
) -> Iterator[pa.RecordBatch]:
    """Encode one task's input batches into chunk batches (CHUNK_SCHEMA),
    one batch per chunk.  A chunk closes when it holds ``chunk_rows``
    rows, at a part boundary, or at the end of the input.

    Without ``part_col``, ``part_id`` is the Spark partition id.  With
    ``part_col`` set, that integer column of the batches is a
    *deterministic* partition key (a content hash, not a task id):
    chunks are split at its boundaries and ``part_id`` takes its value,
    which is what lets checkpoint/resume (lineage.EncodeJob) re-derive
    and skip completed partitions.  The input must then be sorted by it
    within the task, and ``plans`` cover every other column.

    ``codec_hints`` (from :func:`presample_codecs`) seeds the codec
    memo so the first chunk skips trial-encode selection; the drift
    guard and periodic refresh keep the choice adaptive.
    """
    forget_zip_finders()
    if chunk_rows < 1:
        raise ValueError(f"chunk_rows must be at least 1, got {chunk_rows}")
    from pyspark import TaskContext

    ctx = TaskContext.get()
    task_part = ctx.partitionId() if ctx is not None else 0

    chunk_id = 0
    cur_part = task_part
    # column -> codec, seeded from driver-side hints (skips the
    # cold-start trial-encode), refreshed every _RESELECT chunks
    memo: dict = dict(codec_hints or {})
    _RESELECT = 16
    keys = () if part_col is None else (part_col,)
    for key, tbl in bounded_groups(batches, chunk_rows, keys=keys):
        part = key[0] if key else task_part
        if part != cur_part:
            cur_part, chunk_id = part, 0  # chunk ids start at 0 per partition
            memo.clear()  # new partition: data distribution changes
        if chunk_id % _RESELECT == 0 and chunk_id > 0:
            memo.clear()
        yield _encode_table(tbl, plans, part, chunk_id, memo=memo)
        chunk_id += 1


def encode_dataframe(
    df: DataFrame,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    codec_hints: dict[str, str] | None = None,
) -> DataFrame:
    """Encode every column of ``df`` into compressed column chunks.

    Returns the chunk-metadata DataFrame (CHUNK_SCHEMA): one row per
    (partition, chunk, column) carrying the serialized chunk payload;
    ``part_id`` is the Spark partition id.  ``codec_hints`` is
    described on :func:`encode_chunks`.
    """
    plans = plan_from_spark_schema(df.schema)

    def encode_batches(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return encode_chunks(batches, plans, chunk_rows, codec_hints)

    return df.mapInArrow(encode_batches, CHUNK_SCHEMA)


def _merge_columns(field: pa.Field, cols: list[pa.Array]) -> pa.Array:
    """Merge per-leaf rebuilt columns into one nested column.

    Each leaf of a multi-leaf column (struct, list-of-struct, …) is
    decoded independently by ``unshred`` into the full nesting with a
    single-child struct at each struct level.  All leaves of one column
    share their repetition/definition streams above the leaf, so the
    rebuilt wrappers are element-wise identical: lists are merged by
    reusing the first leaf's offsets/validity around the recursively
    merged children; structs zip their single-child wrappers together.
    (The reference's nested test matrix, parquet-file-test.cc:515-600,
    is the spirit of the covering tests.)
    """
    import numpy as np
    import pyarrow.compute as pc

    if len(cols) == 1:
        return cols[0]
    t = field.type
    if pa.types.is_map(t):
        # leaves rebuilt as list<struct<key>> / list<struct<value>>;
        # zip the entry structs, then re-type the list as a MapArray
        # (identical physical layout) keeping offsets + validity
        c0 = cols[0]
        entries_field = pa.field(
            "entries", pa.struct([t.key_field.with_name("key"), t.item_field.with_name("value")]), nullable=False
        )
        merged = _merge_columns(entries_field, [c.values for c in cols])
        built = pa.ListArray.from_arrays(c0.offsets, merged)
        if c0.null_count:
            idx = pa.array(np.arange(len(c0), dtype=np.int64), mask=np.asarray(pc.is_null(c0)))
            built = built.take(idx)
        return pa.Array.from_buffers(
            t, len(built), [built.buffers()[0], built.buffers()[1]], children=[built.values]
        )
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        c0 = cols[0]
        assert all(len(c.values) == len(c0.values) for c in cols[1:])
        merged = _merge_columns(t.value_field, [c.values for c in cols])
        cls = pa.LargeListArray if pa.types.is_large_list(t) else pa.ListArray
        built = cls.from_arrays(c0.offsets, merged)
        if c0.null_count:
            idx = pa.array(
                np.arange(len(c0), dtype=np.int64), mask=np.asarray(pc.is_null(c0))
            )
            built = built.take(idx)
        return built
    if not pa.types.is_struct(t):
        raise NotImplementedError(f"multi-leaf reassembly under type {t} is not supported")
    by_child: dict[str, list[pa.Array]] = {}
    for c in cols:
        name = c.type.field(0).name
        by_child.setdefault(name, []).append(c.field(0) if hasattr(c, "field") else c)
    children = []
    for child_field in t:
        sub = by_child[child_field.name]
        children.append(_merge_columns(child_field, sub))
    mask = pc.invert(cols[0].is_valid()) if field.nullable else None
    return pa.StructArray.from_arrays(children, fields=list(t), mask=mask)


def decode_dataframe(
    chunks: DataFrame,
    schema: StructType,
    predicate: tuple[str, object, object] | None = None,
    grouped: bool = False,
) -> DataFrame:
    """Inverse of :func:`encode_dataframe`: chunk rows → original table.

    ``predicate=(column, lower, upper)`` (either bound may be None)
    routes the scan through :func:`prune_chunks` first, so chunks whose
    stats prove them out of range never leave the JVM — their payloads
    are neither shuffled nor handed to a Python worker.  This is the
    default pushdown surface for the SGC store (round-3 item #7 /
    round-4 item #4): callers get pruning by passing the predicate they
    would otherwise apply post-decode (pruning is conservative; still
    apply the exact filter after decoding).

    ``grouped=True`` asserts that ``chunks`` is already clustered by
    (part_id, chunk_id) within its partitions — true by construction
    for the direct in-plan output of :func:`encode_dataframe` (each
    encode task emits whole chunk groups contiguously) — and skips the
    repartition+sort entirely: the decode chains narrowly onto the
    encode with no Exchange (round-6, guide §2.4).  With a
    ``predicate`` the pruning then runs as a JVM-side group-wise window
    filter on the single decode exchange instead of the semi-join,
    because the semi-join's broadcast build side would re-execute the
    whole upstream encode (measured: pruned_scan_agg ran encode twice).

    The decode exchange has ``defaultParallelism`` partitions: one
    wave, one decode task per core.  Without that explicit width, AQE
    coalesces the ~10x-compressed chunk shuffle to its advisory size
    and the decode — whose output re-expands by the compression
    ratio — runs nearly serial (measured: 5 of 64
    partitions survived coalescing at sf0.1; explicit one-wave sizing
    measured 0.52-0.63 s vs 0.66-1.15 s.  Guide §2.2/§2.5: size
    partitions for the *decoded* side).
    """
    arrow_schema = to_arrow_schema(schema)
    plans = plan_from_schema(arrow_schema)

    n = chunks.sparkSession.sparkContext.defaultParallelism
    if grouped:
        if predicate is not None:
            col, lower, upper = predicate
            from pyspark.sql import Window

            cond = _prune_condition(chunks, schema, col, lower=lower, upper=upper)
            if cond is not None:
                w = Window.partitionBy("part_id", "chunk_id")
                chunks = (
                    chunks.repartition(n, "part_id", "chunk_id")
                    .withColumn("__keep", F.max(cond.cast("int")).over(w))
                    .filter(F.col("__keep") == 1)
                    .drop("__keep")
                )
        grouped_df = chunks
    else:
        if predicate is not None:
            col, lower, upper = predicate
            chunks = prune_chunks(chunks, schema, col, lower=lower, upper=upper)
        grouped_df = chunks.repartition(n, "part_id", "chunk_id").sortWithinPartitions(
            "part_id", "chunk_id"
        )

    def decode_batches(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        forget_zip_finders()
        from cpp_parquet_spark.chunk import decode_chunk_to_column

        for _, group in bounded_groups(batches, None, keys=("part_id", "chunk_id")):
            payloads = dict(zip(group.column("column").to_pylist(), group.column("payload").to_pylist()))
            arrays = []
            for f in arrow_schema:
                leaf_cols = [
                    decode_chunk_to_column(payloads[p.dotted], p)
                    for p in plans
                    if p.path[0] == f.name
                ]
                arrays.append(_merge_columns(f, leaf_cols))
            yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

    return grouped_df.mapInArrow(decode_batches, schema)


def prune_chunks(
    chunks: DataFrame,
    schema: StructType,
    column: str,
    lower=None,
    upper=None,
) -> DataFrame:
    """Stats-based chunk pruning: keep only chunks whose ``column`` may
    contain a value in ``[lower, upper]`` (either bound optional).

    This is predicate pushdown for the SGC chunk store — the analogue
    of the Parquet row-group statistics our writer emits
    (parquet_writer._statistics) and of the reference's ColumnMetaData
    statistics slot.  The filter runs JVM-side on the (tiny) metadata
    columns via the order-preserving ``stat_min``/``stat_max`` binary
    keys (stats.py), so pruned chunk *payloads* are never shuffled to a
    Python worker; survivors are selected per (part_id, chunk_id) with
    a broadcast semi-join so all columns of a surviving chunk stay
    aligned for :func:`decode_dataframe`.

    Pruning is conservative (truncated string stats round outward);
    callers still apply the exact predicate after decoding.  Chunks
    whose ``column`` is entirely NULL are pruned when any bound is set
    — NULL satisfies no range predicate.  For leaf columns under
    lists, the semantics are "some element in range".

    NULL-stat semantics: all-null/empty is detected by ``num_values ==
    0`` (the defined-value count recorded at encode time), NOT by NULL
    stat keys — a chunk with live values whose stats computation failed
    (chunk_stats returns (None, None) on e.g. ArrowNotImplementedError)
    has ``stat_min`` NULL but ``num_values > 0`` and is always KEPT
    (ADVICE r4: treating it as all-null silently dropped live rows).  A
    chunk whose max is not expressible as a truncated key (first 64
    bytes all 0xFF, stats._bytes_key) has ``stat_min`` set but
    ``stat_max`` NULL, meaning "unbounded above" — such a chunk is
    always KEPT under a lower-bound predicate.  An unorderable bound
    raises rather than building a silently-NULL predicate.
    """
    cond = _prune_condition(chunks, schema, column, lower=lower, upper=upper)
    if cond is None:
        return chunks
    surviving = chunks.filter(cond).select("part_id", "chunk_id")
    return chunks.join(F.broadcast(surviving), ["part_id", "chunk_id"], "leftsemi")


def _prune_condition(chunks: DataFrame, schema: StructType, column: str, lower=None, upper=None):
    """The JVM-side per-chunk-row "may contain a value in range"
    condition shared by :func:`prune_chunks` (semi-join form) and the
    grouped window prune in :func:`decode_dataframe`.  Returns None when
    no bound is set (nothing to prune).  Semantics documented on
    :func:`prune_chunks`."""
    from pyspark.sql import functions as F

    from cpp_parquet_spark.stats import order_key

    plans = {p.dotted: p for p in plan_from_spark_schema(schema)}
    if column not in plans:
        raise KeyError(f"unknown leaf column {column!r}; have {sorted(plans)}")
    dtype = plans[column].arrow_type
    if lower is None and upper is None:
        return None
    # all-null/empty chunks (num_values == 0) satisfy no range
    # predicate; chunks with live values but NULL stat keys (stats
    # computation unavailable) must survive every range condition.
    pred = (F.col("column") == column) & (F.col("num_values") > 0)
    range_ok = F.lit(True)
    if lower is not None:
        lo_key = order_key(lower, dtype, round_up=False)
        if lo_key is None:
            raise ValueError(f"no order-preserving key for lower bound {lower!r} of dtype {dtype}")
        # stat_max NULL with stat_min set = "unbounded above": keep.
        range_ok = range_ok & ((F.col("stat_max") >= F.lit(lo_key)) | F.col("stat_max").isNull())
    if upper is not None:
        hi_key = order_key(upper, dtype, round_up=True)
        if hi_key is None:
            if order_key(upper, dtype, round_up=False) is None:
                raise ValueError(f"no order-preserving key for upper bound {upper!r} of dtype {dtype}")
            # upper rounds up past every expressible key (0xFF-prefixed
            # var-length bound): the upper conjunct is vacuously true.
        else:
            range_ok = range_ok & (F.col("stat_min") <= F.lit(hi_key))
    return pred & (F.col("stat_min").isNull() | range_ok)


def row_hash(df: DataFrame, keys: tuple[str, ...]):
    """xxhash64 over the columns of ``df`` that are not in ``keys``: the
    salt that spreads one heavy key over several partitions.  Columns
    holding a MAP are left out, because Spark refuses to hash maps
    (DATATYPE_MISMATCH.HASH_MAP_TYPE); for a table without maps this
    is the expression chunk stores were always partitioned by, so
    their part ids stay the same."""

    def has_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return has_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(has_map(f.dataType) for f in dt.fields)
        return False

    others = [f.name for f in df.schema.fields if f.name not in keys and not has_map(f.dataType)]
    return F.xxhash64(*[F.col(c) for c in others] or [F.lit(0)])


def partition_for_encoding(
    df: DataFrame,
    keys: tuple[str, ...] = ("lang", "repo"),
    num_partitions: int | None = None,
) -> DataFrame:
    """Range-partition ``df`` by the encoding keys, with the row hash
    (:func:`row_hash`) as the last sort key.

    Each partition then holds one narrow range of keys, which is what
    makes rle/dict win on the key columns and keeps chunk min/max stats
    tight enough for :func:`prune_chunks` to skip chunks.  Spark's own
    sampled range partitioner places the bounds when the shuffle runs;
    because the row hash breaks ties, a bound can fall inside a heavy
    key, so a skewed key is split over as many partitions as its share
    of the rows needs.  Keys are compared as typed values, so boolean,
    double and NULL keys split like strings do.

    Limit: the bounds balance rows, not bytes.  A key of a few very
    large rows lands in one partition whatever its size.
    """
    num = num_partitions or df.sparkSession.sparkContext.defaultParallelism * 2
    return df.repartitionByRange(num, *keys, row_hash(df, keys))


def encode_pipeline(
    df: DataFrame,
    keys: tuple[str, ...] = ("lang", "repo"),
    num_partitions: int | None = None,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    codec_hints: dict[str, str] | None = None,
) -> DataFrame:
    """Range-partition by ``keys`` (:func:`partition_for_encoding`), then
    encode: the flagship path.

    Without ``codec_hints``, the codec selector runs once driver-side
    on a prefix sample and seeds every task with the result (see
    :func:`presample_codecs`).  Pass ``codec_hints`` to reuse hints
    across runs over the same data (the hints are a driver-side
    constant: compute once, encode for hours); then no Spark job runs
    until the caller's action."""
    hints = codec_hints if codec_hints is not None else presample_codecs(df)
    return encode_dataframe(
        partition_for_encoding(df, keys=keys, num_partitions=num_partitions),
        chunk_rows=chunk_rows,
        codec_hints=hints,
    )


def size_report(chunks: DataFrame) -> DataFrame:
    """Per-(column, codec) compression summary of a chunk table."""
    return (
        chunks.groupBy("column", "codec")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("num_rows").alias("rows"),
            F.sum("plain_bytes").alias("plain_bytes"),
            F.sum("encoded_bytes").alias("encoded_bytes"),
        )
        .withColumn(
            "ratio",
            F.round(F.col("plain_bytes") / F.greatest(F.col("encoded_bytes"), F.lit(1)), 3),
        )
        .orderBy("column", "codec")
    )
