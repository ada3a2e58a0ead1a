"""Byte-exact pins of the two write paths.

A fixed table goes through ``write_table`` (every page/encoding switch)
and through ``serialize_chunk`` (every integer, generic and string SGC
codec); the sha256 of each output is compared with digests recorded
from a known-good build.  Chunk digests cover the bytes after the magic,
which is pinned on its own, so a magic bump leaves the payload pins of
unchanged codecs standing.  Refactors of the encoders must keep these
digests: a change here is a format change.  Uncompressed only (zlib
output may vary by library version).
"""

import datetime as dt
import decimal
import hashlib
import itertools

import pyarrow as pa
import pytest

from cpp_parquet_spark.chunk import MAGIC, serialize_chunk
from cpp_parquet_spark.kernels.levels import shred
from cpp_parquet_spark.kernels.plain import int_view
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
    # codec -> sha256 over every applicable column's chunk after the magic,
    # in schema order
    "plain": "934706013d37a9dc218b378e4726302cb402cbd7f0670993a743fa1937d7efc5",
    "for": "61289237dda637e0a0268f5d7976979fabd43d3d4d544409572f2c356b28b72a",
    "delta": "d04a2946d5001a81a1f53120633ed7a287fa5bea6deb9b23d7f05734ba8da52c",
    "dict": "de91aecffd947a659335bdab008f0ef2e9c694330526a5c6694987375c19c189",
    "rle": "56c48297bb4fa8a506cdc88972b9acd0b679695a555a7b10700f2a264d269540",
    "lined": "f5eca16ef520538515b3b9aea33d0c5799b4f2d0f6e7386aef2e0bbaf5e38e9d",
    "alpha": "b7f9e3249802814e212239bda78ed7ac36fdfe790a839430f959b4d46e0b58d6",
    "fsst": "9d18a29c8d3aee7d95250a9008ba520c3cc9b3e94057feb389937ac94cf17af7",
}

# sha256 of the `for` chunks of _view_table, after the magic
_VIEW_DIGEST = "b9bc4c057bd735a0dd284aa63d8cd59df5271dad4567ad44dd1156a0ec22e41a"

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
        h.update(blob[4:])  # the payload after the magic
    assert h.hexdigest() == _CHUNK_DIGESTS[codec]


def test_chunk_magic():
    assert MAGIC == b"SGC3"


def _view_table() -> pa.Table:
    """One column per scaled-integer view that is not a plain integer:
    a decimal(12,2) with nulls, a double exact at 10^2 (in steps of 1.37) and timestamps
    at midnight (steps of one day)."""
    i = range(_N)
    day0 = dt.datetime(2024, 1, 1)
    return pa.table(
        {
            "price": pa.array(
                [None if k % 9 == 0 else decimal.Decimal(k * 7919 % 100_003 - 5_000).scaleb(-2) for k in i],
                pa.decimal128(12, 2),
            ),
            "amount": pa.array([round(k * 1.37 - 300, 2) for k in i], pa.float64()),
            "shipped": pa.array([day0 + dt.timedelta(days=k * 37 % 2_500) for k in i], pa.timestamp("us")),
        }
    )


def test_serialize_chunk_view_bytes_pinned():
    t = _view_table()
    h = hashlib.sha256()
    views = []
    for plan in plan_from_schema(t.schema):
        sh = shred(t.column(plan.path[0]).combine_chunks(), plan)
        views.append(int_view(sh.values, plan.physical)[0])
        blob, _ = serialize_chunk(sh, "for")
        h.update(blob[4:])
    assert [(v.kind, v.exponent, v.step) for v in views] == [(1, 0, 1), (2, 2, 137), (0, 0, 86_400_000_000)]
    assert h.hexdigest() == _VIEW_DIGEST
