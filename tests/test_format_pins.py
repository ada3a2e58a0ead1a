"""Byte-exact pins of the two write paths.

A fixed table goes through ``write_table`` (every page/encoding switch)
and through ``serialize_chunk`` (every integer, generic and string SGC
codec); the sha256 of each output is compared with digests recorded
from a known-good build.  Refactors of the encoders must keep these
digests: a change here is a format change.  Uncompressed only (zlib
output may vary by library version).
"""

import datetime as dt
import decimal
import hashlib
import itertools

import pyarrow as pa
import pytest

from cpp_parquet_spark.chunk import serialize_chunk
from cpp_parquet_spark.kernels.levels import shred
from cpp_parquet_spark.parquet_writer import write_table
from cpp_parquet_spark.schema_plan import plan_from_schema

_N = 1000


def _table() -> pa.Table:
    i = range(_N)
    day0 = dt.date(2020, 1, 1)
    ts0 = dt.datetime(2026, 1, 1)
    return pa.table(
        {
            "id": pa.array([10**12 + 3 * k for k in i], pa.int64()),
            "i32": pa.array([(k * 7919) % 65536 - 32768 for k in i], pa.int32()),
            "small": pa.array([None if k % 7 == 0 else k % 5 for k in i], pa.int32()),
            "d": pa.array([day0 + dt.timedelta(days=k // 3) for k in i], pa.date32()),
            "ts": pa.array([ts0 + dt.timedelta(microseconds=1_000_003 * k) for k in i], pa.timestamp("us")),
            "s": pa.array([None if k % 11 == 0 else f"name-{k % 40}" for k in i], pa.string()),
            "u": pa.array([f"u{k * 13}" for k in i], pa.string()),
            "f": pa.array([k * 0.25 for k in i], pa.float64()),
            "xs": pa.array(
                [None if k % 9 == 0 else [k + j for j in range(k % 4)] for k in i],
                pa.list_(pa.int32()),
            ),
        }
    )


def _nested_table() -> pa.Table:
    """Nested groups and every annotated leaf type: struct, map, list of
    struct, list of list, decimals (at most 28 significant digits),
    FLBA, unsigned ints, three timestamp flavours and dates; nullable
    and required fields at the top level and inside the groups."""
    i = range(_N)
    ts0 = dt.datetime(2026, 1, 1)
    ab = pa.struct([pa.field("a", pa.int32()), pa.field("b", pa.string(), nullable=False)])
    point = pa.struct([pa.field("x", pa.int64()), pa.field("y", pa.string(), nullable=False)])
    cols = [
        (
            pa.field("st", ab),
            [None if k % 13 == 0 else {"a": None if k % 5 == 0 else k, "b": f"b{k % 17}"} for k in i],
        ),
        (
            pa.field("m", pa.map_(pa.string(), pa.int32())),
            [None if k % 10 == 0 else [(f"k{j}", k * j) for j in range(k % 3)] for k in i],
        ),
        (
            pa.field("ls", pa.list_(point)),
            [None if k % 8 == 0 else [{"x": k + j, "y": f"y{j}"} for j in range(k % 3)] for k in i],
        ),
        (
            pa.field("ll", pa.list_(pa.list_(pa.field("element", pa.int32(), nullable=False))), nullable=False),
            [[[k, j] for j in range(k % 3)] for k in i],
        ),
        (
            pa.field("d12", pa.decimal128(12, 2)),
            [None if k % 6 == 0 else decimal.Decimal(k * 1234567 - 600_000_000).scaleb(-2) for k in i],
        ),
        (
            pa.field("d38", pa.decimal128(38, 10), nullable=False),
            [decimal.Decimal(f"123456789012345678.{k:010d}") * (-1) ** k for k in i],
        ),
        (pa.field("fb", pa.binary(5)), [None if k % 4 == 0 else (k * 31).to_bytes(5, "big") for k in i]),
        (pa.field("u32", pa.uint32(), nullable=False), [(k * 2654435761) % 2**32 for k in i]),
        (pa.field("u64", pa.uint64()), [None if k % 9 == 0 else 2**63 + k * 977 for k in i]),
        (
            pa.field("ts_ms", pa.timestamp("ms"), nullable=False),
            [ts0 + dt.timedelta(milliseconds=1_003 * k) for k in i],
        ),
        (pa.field("ts_ns", pa.timestamp("ns")), [1_767_225_600_000_000_000 + 7 * k for k in i]),
        (
            pa.field("ts_utc", pa.timestamp("us", "UTC")),
            [None if k % 3 == 0 else ts0 + dt.timedelta(seconds=k) for k in i],
        ),
        (pa.field("dt", pa.date32(), nullable=False), [dt.date(2020, 1, 1) + dt.timedelta(days=k) for k in i]),
    ]
    schema = pa.schema([f for f, _ in cols])
    return pa.Table.from_arrays([pa.array(v, f.type) for f, v in cols], schema=schema)


_WRITE_DIGESTS = {
    # (data_page_version, use_dictionary, use_delta) -> sha256 of the file
    (1, True, True): "f66025831b9b5962c953b70c0e53e731cdf2057e9754b5f2a37696f80024ed7f",
    (1, True, False): "f4d7f722c6cff41501b9c6e01f095710b36afd93032b77c1722800b8a3fe6be1",
    (1, False, True): "d3a1a4a64cd26501d08d8622eb744eb3107d2d7df1e6435aa452766a00f23cb5",
    (1, False, False): "9424e42ff4eb038b32aad1135813b61236aa8ddcd02f210cbaf867f2a279d3d3",
    (2, True, True): "db05926140e402afb83909ce6fad5e554cc3f985c5dd424db646ea0fe878e997",
    (2, True, False): "f8ce57aee0d937db2fcc63102c97a697e1937e0c9b8cc5e60cb7d3f680e2af8f",
    (2, False, True): "b5db2c81ed687b2aec5addbd742bc5a1cd7f5c447c85079cbb7169b9e1039e77",
    (2, False, False): "0315c3a732360cc31cb0c418fcd570fe8834b69000c272b7affe8e2b79d5c4a5",
}

_NESTED_DIGESTS = {
    # (data_page_version, int96_timestamps) -> sha256 of the file
    (1, False): "1ba97063c85edc8bf25b2aee037ca931a1ace386a518f59aaae61af8bb498b49",
    (2, False): "4504ef59a071f6f850c2a12d447763219032f262b525479ed29e67538fa8f24c",
    (1, True): "108eade53cb6f17b209f81a989db9056133fd950d3ef4a7bd169a4eb276e89ab",
}

_CHUNK_DIGESTS = {
    # codec -> sha256 over every applicable column's payload, in schema order
    "plain": "b8624a7ad92382bb61430ce16e7084d9444d0086e000dc8689fa7ca0c1fa4223",
    "for": "f1c68c7dcea8345e11a0352ac49d2a38910c579f7dfe5ef9bf41b39f26c29587",
    "delta": "2f6c80b5c5c59b5e074ceb38ac693b37b07ce3e18eeb5b6f87fb91d7a7c55f21",
    "dict": "75304ef3897998f90e80d9a588646fafe7d1b019f3385560d6b3853ec2a9783d",
    "rle": "ae9fff6c12b92d216a482bc8c95f8e0eaad9e35be6efb318d3cbfed2baab0230",
    "lined": "04548d1131de947ba1d0f6e041353d3dbc132cbe3ab88a0d0a2e2bee9eea9249",
    "alpha": "d6a2da483079bb1993c737bcf6bdd6763112e162cd96a083b82819f2e6efb2ea",
    "fsst": "4e4c50986e17486a5fa700f8f9f071830499b7ae39ce9a583f7ef2ab7401becc",
}

_STRING_ONLY = ("lined", "alpha", "fsst")


@pytest.mark.parametrize(
    "version,use_dict,use_delta", list(itertools.product((1, 2), (True, False), (True, False)))
)
def test_write_table_bytes_pinned(version, use_dict, use_delta, tmp_path):
    path = tmp_path / "t.parquet"
    write_table(
        _table(),
        str(path),
        use_dictionary=use_dict,
        use_delta=use_delta,
        page_records=300,  # several pages; delta blocks end part-filled
        data_page_version=version,
    )
    digest = hashlib.sha256(path.read_bytes()).hexdigest()
    assert digest == _WRITE_DIGESTS[(version, use_dict, use_delta)]


@pytest.mark.parametrize("version,int96", list(_NESTED_DIGESTS))
def test_write_table_nested_bytes_pinned(version, int96, tmp_path):
    path = tmp_path / "t.parquet"
    write_table(_nested_table(), str(path), page_records=300, data_page_version=version, int96_timestamps=int96)
    digest = hashlib.sha256(path.read_bytes()).hexdigest()
    assert digest == _NESTED_DIGESTS[(version, int96)]


@pytest.mark.parametrize("codec", list(_CHUNK_DIGESTS))
def test_serialize_chunk_bytes_pinned(codec):
    t = _table()
    h = hashlib.sha256()
    for plan in plan_from_schema(t.schema):
        if codec in ("for", "delta") and plan.physical not in ("INT32", "INT64"):
            continue
        if codec in _STRING_ONLY and plan.physical != "BYTE_ARRAY":
            continue
        sh = shred(t.column(plan.path[0]).combine_chunks(), plan)
        blob, _ = serialize_chunk(sh, codec)
        h.update(blob)
    assert h.hexdigest() == _CHUNK_DIGESTS[codec]
