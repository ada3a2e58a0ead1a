"""Chunk serialization + codec selector tests."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cpp_parquet_spark.chunk import (
    CODECS,
    decode_chunk_to_column,
    deserialize_chunk,
    serialize_chunk,
)
from cpp_parquet_spark.kernels.levels import shred
from cpp_parquet_spark.schema_plan import plan_from_schema
from cpp_parquet_spark.selector import column_stats, select_codec, shortlist


def _chunk_rt(field, data, codec):
    schema = pa.schema([field])
    plan = plan_from_schema(schema)[0]
    arr = pa.array(data, type=field.type)
    sh = shred(arr, plan)
    blob, meta = serialize_chunk(sh, codec)
    assert meta.encoded_bytes == len(blob)
    back = decode_chunk_to_column(blob, plan)
    assert back.to_pylist() == arr.to_pylist()
    return blob, meta


@pytest.mark.parametrize("codec", ["plain", "dict", "rle"])
def test_chunk_roundtrip_strings(codec):
    data = ["python", "python", "go", None, "rust", "python"] * 20
    _chunk_rt(pa.field("lang", pa.string(), nullable=True), data, codec)


def test_chunk_roundtrip_fsst():
    data = [f"src/main/q{i}.py" for i in range(300)]
    blob, meta = _chunk_rt(pa.field("path", pa.string(), nullable=False), data, "fsst")
    assert meta.encoded_bytes < meta.plain_bytes


def test_chunk_roundtrip_for():
    data = list(range(100000, 101000))
    blob, meta = _chunk_rt(pa.field("n", pa.int64(), nullable=False), data, "for")
    assert meta.encoded_bytes < meta.plain_bytes / 3


def test_chunk_repeated_column():
    f = pa.field("arr", pa.list_(pa.field("element", pa.int32(), nullable=False)), nullable=False)
    _chunk_rt(f, [[1, 2, 3], [4], [5, 6]] * 30, "plain")


def test_chunk_all_null():
    _chunk_rt(pa.field("x", pa.int32(), nullable=True), [None] * 500, "plain")


def test_chunk_timestamps():
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    data = [base + dt.timedelta(seconds=i) for i in range(200)]
    f = pa.field("ts", pa.timestamp("us"), nullable=False)
    _chunk_rt(f, data, "for")
    _chunk_rt(f, data, "plain")


def test_chunk_dates():
    # ADVICE r1: date32 crashed auto encoding (pyarrow 16 has no
    # date32<->int64 cast); every integer codec must round-trip dates
    import datetime as dt

    base = dt.date(2024, 1, 1)
    data = [base + dt.timedelta(days=i % 90) for i in range(400)]
    f = pa.field("d", pa.date32(), nullable=False)
    for codec in ("plain", "for", "dict", "rle"):
        _chunk_rt(f, data, codec)
    _chunk_rt(f, sorted(data), "delta")
    # auto mode must not crash on dates (the original failure mode)
    arr = pa.array(data, type=pa.date32())
    assert select_codec(arr, "INT32") in ("for", "dict", "rle", "delta", "plain")


def test_chunk_lined_binary_non_utf8():
    # ADVICE r1: lined decode cast lines to utf8 and raised on binary;
    # newline-heavy non-UTF-8 payloads must round-trip losslessly
    data = [b"\xff\xfeline one\n\x80binary\nend" + bytes([i]) for i in range(100)]
    f = pa.field("payload", pa.binary(), nullable=False)
    _chunk_rt(f, data, "lined")


def test_chunk_lined_empty_and_trailing_newlines():
    data = ["", "a\n", "\n\n", "x", "a\nb"] * 40
    _chunk_rt(pa.field("s", pa.string(), nullable=False), data, "lined")


def test_truncated_chunk_fails_loudly():
    """A chunk cut short raises instead of decoding a shorter section."""
    blob, _ = _chunk_rt(pa.field("s", pa.string()), [f"v{i % 7}" for i in range(500)], "dict")
    plan = plan_from_schema(pa.schema([pa.field("s", pa.string())]))[0]
    with pytest.raises(ValueError, match="truncated section"):
        deserialize_chunk(blob[:-1], plan)


def test_chunk_booleans_bitpack():
    data = [bool((i * 7) % 3) for i in range(1000)]
    f = pa.field("b", pa.bool_(), nullable=False)
    blob, meta = _chunk_rt(f, data, "boolpack")
    assert meta.encoded_bytes < meta.plain_bytes / 6  # ~8x vs byte-per-value
    # nullable booleans: def levels + packed non-null values
    data_n = [None if i % 5 == 0 else bool(i % 2) for i in range(500)]
    _chunk_rt(pa.field("b", pa.bool_(), nullable=True), data_n, "boolpack")
    # auto mode picks a sub-byte codec for booleans
    arr = pa.array(data, type=pa.bool_())
    assert select_codec(arr, "BOOLEAN") in ("boolpack", "rle")


def test_selector_low_cardinality_runny():
    # constant-ish column -> run-based codec (rle and dict are within a
    # few bytes of each other here; both are >100x smaller than plain)
    arr = pa.array(["python"] * 5000 + ["go"] * 5000)
    assert select_codec(arr, "BYTE_ARRAY") in ("rle", "dict")


def test_selector_low_card_shuffled():
    rng = np.random.RandomState(42)
    vals = np.array(["python", "go", "rust", "java"])[rng.randint(0, 4, 8000)]
    arr = pa.array(vals.tolist())
    assert select_codec(arr, "BYTE_ARRAY") == "dict"


def test_selector_narrow_ints():
    arr = pa.array((100000 + np.arange(5000) % 256).tolist(), type=pa.int64())
    c = select_codec(arr, "INT64")
    assert c in ("for", "dict")
    assert "for" in shortlist(column_stats(arr, "INT64"), "INT64")


def test_selector_source_text_picks_fsst():
    vals = [f"import os\nclass Foo{i}:\n    def run(self):\n        return {i}\n" for i in range(3000)]
    arr = pa.array(vals)
    assert select_codec(arr, "BYTE_ARRAY") == "fsst"


def test_selector_random_binary_picks_plain():
    rng = np.random.RandomState(7)
    vals = [rng.bytes(64) for _ in range(2000)]
    arr = pa.array(vals, type=pa.binary())
    assert select_codec(arr, "BYTE_ARRAY") == "plain"


def test_selector_real_columns():
    t = pq.read_table("/root/testdata/sf0.01/documents.parquet")
    lang = t.column("lang").combine_chunks()
    assert select_codec(lang, "BYTE_ARRAY") in ("dict", "rle")
    n_chars = t.column("n_chars").combine_chunks()
    assert select_codec(n_chars, "INT64") in ("for", "dict", "plain")



def _int_chunk():
    field = pa.field("n", pa.int64(), nullable=False)
    blob, _ = _chunk_rt(field, list(range(100000, 101000)), "for")
    return bytearray(blob), plan_from_schema(pa.schema([field]))[0]


def test_older_chunk_format_asks_for_reencode():
    blob, plan = _int_chunk()
    blob[:4] = b"SGC2"
    with pytest.raises(ValueError, match="does not match this build's b'SGC3'; re-encode the store"):
        deserialize_chunk(bytes(blob), plan)


def test_foreign_magic_is_rejected():
    blob, plan = _int_chunk()
    blob[:4] = b"PAR1"
    with pytest.raises(ValueError, match="bad chunk magic"):
        deserialize_chunk(bytes(blob), plan)


def test_unknown_codec_id_is_rejected():
    blob, plan = _int_chunk()
    blob[5] = 200
    with pytest.raises(ValueError, match="unknown codec id 200"):
        deserialize_chunk(bytes(blob), plan)


def test_unknown_view_kind_is_rejected():
    blob, plan = _int_chunk()
    # REQUIRED flat column: 16-byte header, no level sections, then the
    # data section's u32 length and the view header's kind byte
    assert blob[20] == 0
    blob[20] = 7
    with pytest.raises(ValueError, match="unknown integer view kind 7"):
        deserialize_chunk(bytes(blob), plan)


def test_view_kind_must_fit_the_column():
    blob, _ = _int_chunk()
    plan = plan_from_schema(pa.schema([pa.field("n", pa.float64(), nullable=False)]))[0]
    with pytest.raises(ValueError, match="does not fit a double column"):
        deserialize_chunk(bytes(blob), plan)
