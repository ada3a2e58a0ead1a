"""Real-Parquet-output tests — the reference's external-reader oracle.

The reference's real validity assertion is an independent tool parsing
every produced file (parquet-dump over each fixture,
parquet-file-test.cc:37-50, README.md:45-67).  Here the independent
readers are pyarrow and DuckDB (and Spark, in test_engine/entry tests):
every file our writer produces must be parsed by both and match the
source values exactly.
"""

import datetime as dt
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cpp_parquet_spark.parquet_writer import write_table


def _roundtrip(table: pa.Table, tmp_path, row_group_rows=1 << 20):
    path = str(tmp_path / "out.parquet")
    stats = write_table(table, path, row_group_rows=row_group_rows)
    assert stats["rows"] == table.num_rows
    # oracle 1: pyarrow
    back = pq.read_table(path)
    assert back.num_rows == table.num_rows
    for name in table.schema.names:
        assert (
            back.column(name).combine_chunks().to_pylist()
            == table.column(name).combine_chunks().to_pylist()
        ), name
    # oracle 2: duckdb (count + a column sample via pyarrow interchange)
    n = duckdb.sql(f"select count(*) from '{path}'").fetchone()[0]
    assert n == table.num_rows
    return path


def test_flat_types(tmp_path):
    t = pa.table(
        {
            "i32": pa.array([1, 2, None, 2**31 - 1], pa.int32()),
            "i64": pa.array([2**63 - 1, -1, 0, 42], pa.int64()),
            "f32": pa.array([3.4e38, -0.0, 1.5, None], pa.float32()),
            "f64": pa.array([1.7e308, 0.1, -2.5, 3.3], pa.float64()),
            "s": pa.array(["ab", "", None, "日本語"], pa.string()),
            "b": pa.array([b"\xff\x00", b"", b"q", None], pa.binary()),
            "bool": pa.array([True, False, None, True], pa.bool_()),
        }
    )
    _roundtrip(t, tmp_path, row_group_rows=3)


def test_dates_timestamps(tmp_path):
    t = pa.table(
        {
            "d": pa.array([dt.date(2024, 1, 1), None, dt.date(1970, 1, 1)], pa.date32()),
            "ts": pa.array(
                [dt.datetime(2024, 1, 1, 12, 0, 0, 123456), None, dt.datetime(1970, 1, 1)],
                pa.timestamp("us"),
            ),
            "tsz": pa.array([1, None, 3], pa.timestamp("us", tz="UTC")),
        }
    )
    path = _roundtrip(t, tmp_path)
    # logical types must survive: date32 / naive us / tz-aware us
    back = pq.read_table(path)
    assert back.schema.field("d").type == pa.date32()
    assert back.schema.field("ts").type == pa.timestamp("us")
    assert back.schema.field("tsz").type == pa.timestamp("us", tz="UTC")


def test_int96_legacy_timestamps(tmp_path):
    # the reference's timestamp physical type (parquet-column.cc:269-288);
    # opt-in legacy mode — independent readers must decode the same instants
    t = pa.table(
        {
            "id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [dt.datetime(2024, 1, 1, 12, 0, 0, 123456), None, dt.datetime(1969, 12, 31, 23, 59, 59)],
                pa.timestamp("us"),
            ),
        }
    )
    path = str(tmp_path / "int96.parquet")
    write_table(t, path, int96_timestamps=True)
    meta = pq.ParquetFile(path).schema_arrow  # pyarrow reads INT96 as ns
    back = pq.read_table(path)
    got = back.column("ts").cast(pa.timestamp("us")).combine_chunks().to_pylist()
    assert got == t.column("ts").combine_chunks().to_pylist()
    assert duckdb.sql(f"select count(ts) from '{path}'").fetchone()[0] == 2


def test_nested_lists_structs(tmp_path):
    t = pa.table(
        {
            "emb": pa.array([[1.0, 2.0], [], None, [3.0]], pa.list_(pa.float32())),
            "tags": pa.array([["a", None], ["b"], [], None], pa.list_(pa.string())),
            "st": pa.array(
                [{"x": 1, "y": "a"}, {"x": None, "y": "b"}, None, {"x": 3, "y": None}],
                pa.struct([pa.field("x", pa.int64()), pa.field("y", pa.string())]),
            ),
        }
    )
    _roundtrip(t, tmp_path, row_group_rows=2)


def test_empty_table(tmp_path):
    t = pa.table({"x": pa.array([], pa.int64()), "s": pa.array([], pa.string())})
    path = str(tmp_path / "empty.parquet")
    write_table(t, path)
    back = pq.read_table(path)
    assert back.num_rows == 0
    assert back.schema.names == ["x", "s"]


def test_boolean_bitpacking_vs_reference(tmp_path):
    # the reference writes BOOLEAN as one byte per value
    # (parquet-column.cc:282-284, a known TODO); real readers require
    # bit-packed PLAIN — 500 alternating bools must survive both readers
    vals = [bool(i % 2) for i in range(500)]
    t = pa.table({"b": pa.array(vals, pa.bool_())})
    path = _roundtrip(t, tmp_path, row_group_rows=128)
    assert duckdb.sql(f"select sum(cast(b as int)) from '{path}'").fetchone()[0] == 250


def test_dictionary_pages(tmp_path):
    """Low-cardinality columns get a DICTIONARY_PAGE + RLE_DICTIONARY
    data pages (the engine's hybrid coder is the wire format); files
    shrink and all readers still parse."""
    src = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    p_dict = str(tmp_path / "d.parquet")
    p_plain = str(tmp_path / "p.parquet")
    s_dict = write_table(src, p_dict)
    from cpp_parquet_spark.parquet_writer import ParquetWriter

    w = ParquetWriter(p_plain, src.schema, use_dictionary=False)
    w.write_row_group(src)
    s_plain = w.close()
    assert s_dict["bytes"] < s_plain["bytes"]
    md = pq.ParquetFile(p_dict).metadata.row_group(0)
    encs = {md.column(i).path_in_schema: md.column(i).encodings for i in range(md.num_columns)}
    assert "RLE_DICTIONARY" in encs["lang"]
    assert "RLE_DICTIONARY" in encs["source"]
    assert "RLE_DICTIONARY" not in encs["text"]  # all-unique stays PLAIN
    back = pq.read_table(p_dict)
    for name in src.schema.names:
        assert (
            back.column(name).combine_chunks().to_pylist()
            == src.column(name).combine_chunks().to_pylist()
        ), name
    assert duckdb.sql(f"select count(distinct lang) from '{p_dict}'").fetchone()[0] == 5


def test_multi_page_chunks(tmp_path):
    """Column chunks split into bounded pages at record boundaries —
    readers must not need to buffer a whole row group's column."""
    from cpp_parquet_spark.parquet_writer import ParquetWriter

    src = pq.read_table("/root/testdata/sf0.001/lineitem.parquet")
    path = str(tmp_path / "pages.parquet")
    w = ParquetWriter(path, src.schema, page_records=500)
    w.write_row_group(src)
    w.close()
    back = pq.read_table(path)
    for name in src.schema.names:
        assert (
            back.column(name).combine_chunks().to_pylist()
            == src.column(name).combine_chunks().to_pylist()
        ), name
    # nested column: pages must start at rep==0 (record) boundaries
    emb = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    path2 = str(tmp_path / "pages_nested.parquet")
    w = ParquetWriter(path2, emb.schema, page_records=77)
    w.write_row_group(emb)
    w.close()
    be = pq.read_table(path2)
    assert (
        be.column("embedding").combine_chunks().to_pylist()
        == emb.column("embedding").combine_chunks().to_pylist()
    )
    assert duckdb.sql(f"select count(*) from '{path2}'").fetchone()[0] == emb.num_rows


def test_gzip_compression(tmp_path):
    """Opt-in GZIP page compression (zlib is the only codec library in
    this environment): smaller files, same values in both readers."""
    src = pq.read_table("/root/testdata/sf0.001/documents.parquet")
    p0, p1 = str(tmp_path / "u.parquet"), str(tmp_path / "g.parquet")
    s0 = write_table(src, p0)
    s1 = write_table(src, p1, compression="gzip", row_group_rows=200)
    assert s1["bytes"] < s0["bytes"] / 2
    back = pq.read_table(p1)
    for name in src.schema.names:
        assert (
            back.column(name).combine_chunks().to_pylist()
            == src.column(name).combine_chunks().to_pylist()
        ), name
    assert duckdb.sql(f"select count(*) from '{p1}'").fetchone()[0] == src.num_rows
    with pytest.raises(ValueError, match="gzip"):
        write_table(src, p0, compression="snappy")


def test_statistics_row_group_pruning(tmp_path):
    """min/max statistics land in the footer in a form pyarrow AND
    DuckDB both trust, with per-row-group resolution on sorted data —
    the row-group pruning contract at scale."""
    src = (
        pq.read_table("/root/testdata/sf0.001/orders.parquet")
        .sort_by("o_orderkey")
    )
    path = str(tmp_path / "sorted.parquet")
    write_table(src, path, row_group_rows=500)
    md = pq.ParquetFile(path).metadata
    assert md.num_row_groups >= 3
    prev_max = None
    for g in range(md.num_row_groups):
        st = md.row_group(g).column(0).statistics
        assert st.has_min_max
        if prev_max is not None:
            assert st.min > prev_max  # sorted -> disjoint ranges -> prunable
        prev_max = st.max
    # a selective filter returns exactly the right rows through pruning
    got = pq.read_table(path, filters=[("o_orderkey", "<", 100)])
    assert got.num_rows == sum(1 for v in src.column("o_orderkey").to_pylist() if v < 100)
    n = duckdb.sql(f"select count(*) from '{path}' where o_orderkey < 100").fetchone()[0]
    assert n == got.num_rows


def test_distributed_sink(spark, tmp_path):
    """Every Spark task writes a real part file; Spark's own reader is
    the independent parser (and value-level oracle)."""
    from pyspark.sql import functions as F

    from cpp_parquet_spark.sink import write_parquet_dir

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").repartition(3)
    out = str(tmp_path / "ds")
    manifest = write_parquet_dir(df, out, row_group_rows=200)
    assert sum(r["rows"] for r in manifest) == 500
    assert len(manifest) >= 1
    back = spark.read.parquet(out)
    assert back.count() == 500
    a = df.select("doc_id", F.sha2("text", 256).alias("sha"))
    b = back.select("doc_id", F.sha2("text", 256).alias("sha"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # duckdb parses the directory too
    n = duckdb.sql(f"select count(*) from '{out}/*.parquet'").fetchone()[0]
    assert n == 500


def test_sink_row_groups_are_capped(spark, sf_small, tmp_path):
    """``row_group_rows`` is a cap: one 500-row partition, which reaches
    the task as a single Arrow batch, still splits at 200 rows."""
    from cpp_parquet_spark.sink import write_parquet_dir

    df = spark.read.parquet(f"{sf_small}/documents.parquet").coalesce(1)
    (row,) = write_parquet_dir(df, str(tmp_path / "ds"), row_group_rows=200)
    md = pq.ParquetFile(row["file"]).metadata
    assert [md.row_group(i).num_rows for i in range(md.num_row_groups)] == [200, 200, 100]
    assert row["row_groups"] == 3


@pytest.mark.parametrize("table_name", ["documents", "orders", "lineitem", "embeddings", "events"])
def test_real_testdata_roundtrip(table_name, tmp_path):
    src = pq.read_table(f"/root/testdata/sf0.001/{table_name}.parquet")
    path = str(tmp_path / f"{table_name}.parquet")
    write_table(src, path, row_group_rows=200)
    back = pq.read_table(path)
    assert back.num_rows == src.num_rows
    for name in src.schema.names:
        assert (
            back.column(name).combine_chunks().to_pylist()
            == src.column(name).combine_chunks().to_pylist()
        ), name
    # duckdb value-level check on a deterministic aggregate
    a = duckdb.sql(f"select count(*) from '{path}'").fetchone()
    b = duckdb.sql(f"select count(*) from '/root/testdata/sf0.001/{table_name}.parquet'").fetchone()
    assert a == b


def test_delta_length_byte_array_pages(tmp_path):
    """Unique strings get DELTA_LENGTH_BYTE_ARRAY pages (public Parquet
    spec Encodings.md — the wire form of the engine's internal
    FOR-lengths PLAIN layout, kernels/plain.py); parsed by pyarrow AND
    DuckDB, and strictly smaller than interleaved-prefix PLAIN."""
    t = pa.table({"s": pa.array([f"value-{i:06d}-{'x' * (i % 37)}" for i in range(5000)])})
    p_delta = str(tmp_path / "delta.parquet")
    p_plain = str(tmp_path / "plain.parquet")
    write_table(t, p_delta, use_dictionary=False, use_delta=True)
    write_table(t, p_plain, use_dictionary=False, use_delta=False)
    md = pq.ParquetFile(p_delta).metadata
    assert "DELTA_LENGTH_BYTE_ARRAY" in md.row_group(0).column(0).encodings
    assert pq.read_table(p_delta).column("s").to_pylist() == t.column("s").to_pylist()
    assert duckdb.sql(f"select min(s), count(*) from '{p_delta}'").fetchone() == (
        "value-000000-",
        5000,
    )
    assert os.path.getsize(p_delta) < os.path.getsize(p_plain)


def test_timestamp_units_not_rescaled(tmp_path):
    """ms/ns columns keep their unit (footer declares MILLIS/NANOS);
    's' is cast exactly to micros — no silent 1000x corruption."""
    t = pa.table(
        {
            "ms": pa.array([1_234_567, 7_654_321], type=pa.int64()).cast(pa.timestamp("ms")),
            "s": pa.array([3601, 7322], type=pa.int64()).cast(pa.timestamp("s")),
            "ns": pa.array([987_654_321_123, 5], type=pa.int64()).cast(pa.timestamp("ns")),
        }
    )
    p = str(tmp_path / "ts.parquet")
    write_table(t, p)
    back = pq.read_table(p)
    assert back.column("ms").type == pa.timestamp("ms")
    assert back.column("ns").type == pa.timestamp("ns")
    assert back.column("s").type == pa.timestamp("us")
    assert back.column("ms").to_pylist() == t.column("ms").to_pylist()
    assert back.column("ns").to_pylist() == t.column("ns").to_pylist()
    assert back.column("s").cast(pa.timestamp("s")).to_pylist() == t.column("s").to_pylist()
    # DuckDB agrees on the wall-clock values
    mx = duckdb.sql(f"select max(ms), max(s) from '{p}'").fetchone()
    assert str(mx[0]).rstrip("0") == "1970-01-01 02:07:34.321"
    assert str(mx[1]) == "1970-01-01 02:02:02"


def test_unsigned_stats_and_values(tmp_path):
    """uint64 >= 2**63 and uint32 >= 2**31 write without overflow, carry
    unsigned statistics, and round-trip bit-exactly."""
    t = pa.table(
        {
            "u64": pa.array([2**63 + 7, 5, 2**64 - 1], type=pa.uint64()),
            "u32": pa.array([2**31 + 3, 1, 2**32 - 1], type=pa.uint32()),
        }
    )
    p = str(tmp_path / "u.parquet")
    write_table(t, p, use_dictionary=False)
    back = pq.read_table(p)
    assert back.column("u64").to_pylist() == t.column("u64").to_pylist()
    assert back.column("u32").to_pylist() == t.column("u32").to_pylist()
    # unsigned chunks omit the deprecated signed-sort min/max pair, so
    # pyarrow (which distrusts modern 5/6 from unknown writers) reports
    # no stats; DuckDB reads min_value/max_value — check via its
    # footer reader
    meta = duckdb.sql(
        f"select stats_min_value, stats_max_value from parquet_metadata('{p}') "
        "where path_in_schema = 'u64'"
    ).fetchone()
    assert meta == (str(5), str(2**64 - 1))
    assert duckdb.sql(f"select max(u64), min(u32) from '{p}'").fetchone() == (2**64 - 1, 1)


def test_byte_targeted_row_groups(tmp_path):
    """row_group_bytes packs groups greedily by data bytes (the
    reference's kMaxDataBytesPerRowGroup semantics, parquet-file.cc:
    104-116, made non-vestigial): wide rows split into byte-bounded
    groups parsed by both independent readers."""
    wide = pa.table(
        {
            "id": pa.array(range(2000), type=pa.int64()),
            "blob": pa.array(["z" * 500 for _ in range(2000)]),
        }
    )
    p = str(tmp_path / "wide.parquet")
    write_table(wide, p, row_group_bytes=100_000)
    md = pq.ParquetFile(p).metadata
    assert md.num_row_groups >= 5  # ~1 MB of data / 100 KB target
    sizes = [md.row_group(i).total_byte_size for i in range(md.num_row_groups)]
    assert max(sizes) < 300_000  # no group wildly past the target
    assert pq.read_table(p).column("id").to_pylist() == list(range(2000))
    assert duckdb.sql(f"select count(*) from '{p}'").fetchone() == (2000,)


def test_uncompressed_size_differs_under_gzip(tmp_path):
    t = pa.table({"s": pa.array([f"text {i} " * 20 for i in range(1000)])})
    p = str(tmp_path / "gz.parquet")
    write_table(t, p, compression="gzip", use_dictionary=False)
    col = pq.ParquetFile(p).metadata.row_group(0).column(0)
    assert col.total_uncompressed_size > col.total_compressed_size
    assert pq.read_table(p).column("s").to_pylist() == t.column("s").to_pylist()


def test_delta_binary_packed_int_pages(tmp_path):
    """Sorted / clustered signed-int and timestamp chunks get
    DELTA_BINARY_PACKED pages (public Parquet spec Encodings.md, beyond
    the reference's PLAIN-only pages, parquet-column.cc:385-388); parsed
    by pyarrow AND DuckDB, and strictly smaller than PLAIN."""
    import datetime

    n = 5000
    t = pa.table(
        {
            "id": pa.array(range(1_000_000, 1_000_000 + n), pa.int64()),
            "small": pa.array([(i % 7) - 3 for i in range(n)], pa.int32()),
            "ts": pa.array(
                [
                    datetime.datetime(2026, 1, 1) + datetime.timedelta(seconds=i)
                    for i in range(n)
                ],
                pa.timestamp("us"),
            ),
            "rand64": pa.array([(i * 0x9E3779B97F4A7C15) % (1 << 62) for i in range(n)], pa.int64()),
        }
    )
    p_delta = str(tmp_path / "delta.parquet")
    p_plain = str(tmp_path / "plain.parquet")
    write_table(t, p_delta, use_dictionary=False, use_delta=True)
    write_table(t, p_plain, use_dictionary=False, use_delta=False)
    md = pq.ParquetFile(p_delta).metadata
    enc_by_col = {
        md.schema.column(i).name: md.row_group(0).column(i).encodings
        for i in range(md.num_columns)
    }
    assert "DELTA_BINARY_PACKED" in enc_by_col["id"]
    assert "DELTA_BINARY_PACKED" in enc_by_col["small"]
    assert "DELTA_BINARY_PACKED" in enc_by_col["ts"]
    # incompressible full-range ints stay PLAIN (delta would not win)
    assert "DELTA_BINARY_PACKED" not in enc_by_col["rand64"]
    back = pq.read_table(p_delta)
    for name in t.schema.names:
        assert back.column(name).to_pylist() == t.column(name).to_pylist(), name
    assert duckdb.sql(
        f"select min(id), max(id), sum(small), count(*) from '{p_delta}'"
    ).fetchone() == (1_000_000, 1_000_000 + n - 1, sum((i % 7) - 3 for i in range(n)), n)
    assert os.path.getsize(p_delta) < os.path.getsize(p_plain)


def test_delta_binary_packed_int32_wraps(tmp_path):
    """INT32 deltas wrap in 32 bits (spec Encodings.md): a jump to
    2**31-1 and then to -2**31 inside one 128-value block has deltas
    2**31-1 and -(2**32-1), which only fit a miniblock of at most 32 bits
    when computed modulo 2**32.  Both readers must get the values back."""
    vals = [1000 + 3 * i for i in range(500)]
    vals[200:203] = [0, 2**31 - 1, -(2**31)]
    vals[300:303] = [-(2**31), 2**31 - 1, -(2**31)]
    t = pa.table({"v": pa.array(vals, pa.int32())})
    for version in (1, 2):
        p = str(tmp_path / f"wrap{version}.parquet")
        write_table(t, p, use_dictionary=False, data_page_version=version)
        assert "DELTA_BINARY_PACKED" in pq.ParquetFile(p).metadata.row_group(0).column(0).encodings
        assert pq.read_table(p).column("v").to_pylist() == vals
        got = [r[0] for r in duckdb.sql(f"select v from '{p}'").fetchall()]
        assert got == vals


def test_delta_binary_packed_nulls_and_pages(tmp_path):
    """DELTA_BINARY_PACKED composes with def levels (nulls) and
    multi-page chunks."""
    n = 50_000
    vals = [None if i % 11 == 0 else i * 3 for i in range(n)]
    t = pa.table({"v": pa.array(vals, pa.int64())})
    path = str(tmp_path / "f.parquet")
    write_table(t, path, use_dictionary=False, use_delta=True, page_records=8_000)
    md = pq.ParquetFile(path).metadata
    assert "DELTA_BINARY_PACKED" in md.row_group(0).column(0).encodings
    assert pq.read_table(path).column("v").to_pylist() == vals
    assert duckdb.sql(f"select sum(v), count(v) from '{path}'").fetchone() == (
        sum(v for v in vals if v is not None),
        sum(1 for v in vals if v is not None),
    )


def _first_data_page_type_byte(path, col_idx=0):
    """Thrift-compact PageHeader starts with field 1 (type, i32):
    byte 0x15 then zigzag varint of the page type — 0x06 for
    DATA_PAGE_V2 (3), 0x00 for DATA_PAGE (0)."""
    md = pq.ParquetFile(path).metadata.row_group(0).column(col_idx)
    with open(path, "rb") as f:
        f.seek(md.data_page_offset)
        b = f.read(2)
    assert b[0] == 0x15
    return b[1]


@pytest.mark.parametrize("compression", [None, "gzip"])
def test_data_page_v2(tmp_path, compression):
    """DATA_PAGE_V2 pages (public Parquet spec): uncompressed level runs
    ahead of the values block, lengths in the header; readable by
    pyarrow AND DuckDB with dictionary, delta, and null columns."""
    n = 4000
    t = pa.table(
        {
            "lang": pa.array(["python", "go", "rust"][i % 3] for i in range(n)),
            "path": pa.array(f"src/dir{i % 17}/file_{i:05d}.py" for i in range(n)),
            "size": pa.array([None if i % 13 == 0 else i * 7 for i in range(n)], pa.int64()),
            "tags": pa.array([[f"t{i % 5}", f"u{i % 3}"] if i % 4 else None for i in range(n)]),
        }
    )
    path = str(tmp_path / "v2.parquet")
    write_table(t, path, compression=compression, data_page_version=2, page_records=1500)
    # the size column has no dictionary page, so its first page is a v2 data page
    md = pq.ParquetFile(path).metadata
    size_idx = [md.schema.column(i).name for i in range(md.num_columns)].index("size")
    assert _first_data_page_type_byte(path, size_idx) == 0x06  # zigzag(3)
    back = pq.read_table(path)
    for name in t.schema.names:
        assert back.column(name).to_pylist() == t.column(name).to_pylist(), name
    assert duckdb.sql(f"select sum(size), count(*) from '{path}'").fetchone() == (
        sum(i * 7 for i in range(n) if i % 13 != 0),
        n,
    )


def test_data_page_v1_vs_v2_equivalent(tmp_path):
    """Same table through v1 and v2 pages reads back identically and v1
    files keep emitting v1 page headers."""
    t = pa.table({"v": pa.array(range(1000), pa.int64()), "s": pa.array(f"x{i}" for i in range(1000))})
    p1, p2 = str(tmp_path / "v1.parquet"), str(tmp_path / "v2.parquet")
    write_table(t, p1, use_dictionary=False, data_page_version=1)
    write_table(t, p2, use_dictionary=False, data_page_version=2)
    assert _first_data_page_type_byte(p1) == 0x00
    assert _first_data_page_type_byte(p2) == 0x06
    assert pq.read_table(p1).equals(pq.read_table(p2))


def test_decimal38_statistics_are_exact(tmp_path):
    """decimal(38,10) min/max keep all 29 significant digits: a
    statistic rounded to 28 digits excludes the true minimum, and
    readers that prune on it (pyarrow ``filters=``, DuckDB) return no
    rows for ``d = min``."""
    import decimal

    lo = decimal.Decimal("1234567890123456789.0123456786")
    hi = decimal.Decimal("1234567890123456789.0123456787")
    t = pa.table({"d": pa.array([hi, lo], pa.decimal128(38, 10))})
    path = str(tmp_path / "d38.parquet")
    write_table(t, path)
    st = pq.ParquetFile(path).metadata.row_group(0).column(0).statistics
    assert (st.min, st.max) == (lo, hi)
    assert pq.read_table(path, filters=[("d", "=", lo)]).column("d").to_pylist() == [lo]
    got = duckdb.sql(f"select d from '{path}' where d = {lo}::DECIMAL(38,10)").fetchall()
    assert got == [(lo,)]
