"""Property tests of the scaled-integer view behind ``for``/``delta``.

Every column round-trips bit-exactly through ``serialize_chunk`` /
``decode_chunk_to_column`` with ``for``, ``delta`` and ``plain``, and
with whatever ``select_codec`` picks; ``for``/``delta`` may only refuse
a column (``ValueError``) that has no view.
"""

import decimal

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import assume, given, settings
from hypothesis import strategies as st

from cpp_parquet_spark.chunk import decode_chunk_to_column, serialize_chunk
from cpp_parquet_spark.kernels.levels import shred
from cpp_parquet_spark.kernels.plain import int_view
from cpp_parquet_spark.schema_plan import plan_from_schema
from cpp_parquet_spark.selector import CODEC_ERRORS, select_codec

_I64 = 2**63


def _cells(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(validity, raw value bytes with null slots zeroed): equal cells
    mean bit-exact values, -0.0 and NaN payloads included."""
    w = arr.type.bit_width // 8
    raw = np.frombuffer(arr.buffers()[1], np.uint8)[arr.offset * w : (arr.offset + len(arr)) * w].reshape(-1, w)
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    return valid, np.where(valid[:, None], raw, 0)


def _round_trip(arr: pa.Array, codec: str) -> bool:
    """True if ``arr`` round-trips bit-exactly through ``codec``; False
    if the codec refuses it."""
    plan = plan_from_schema(pa.schema([pa.field("c", arr.type)]))[0]
    sh = shred(arr, plan)
    try:
        blob, _ = serialize_chunk(sh, codec)
    except ValueError:
        return False
    back = decode_chunk_to_column(blob, plan)
    assert back.type == arr.type
    for a, b in zip(_cells(back), _cells(arr)):
        np.testing.assert_array_equal(a, b)
    return True


def _check(arr: pa.Array) -> tuple[bool, bool]:
    """Round-trip ``arr`` through every path; (for accepted, delta accepted)."""
    assert _round_trip(arr, "plain")
    plan = plan_from_schema(pa.schema([pa.field("c", arr.type)]))[0]
    codec = select_codec(shred(arr, plan).values, plan.physical)
    try:
        serialize_chunk(shred(arr, plan), codec)
    except CODEC_ERRORS:
        codec = "plain"  # the encode task's fallback
    assert _round_trip(arr, codec)
    return _round_trip(arr, "for"), _round_trip(arr, "delta")


def _decimal_double(e: int) -> st.SearchStrategy:
    return st.integers(-(10**12), 10**12).map(lambda i: float(decimal.Decimal(i).scaleb(-e)))


_SPECIAL = st.sampled_from([-0.0, float("nan"), float("inf"), float("-inf"), 5e-324, 2.2e-308, 2.0**60])


@given(e=st.integers(0, 6), data=st.data())
@settings(max_examples=80, deadline=None)
def test_decimal_doubles_take_the_view(e, data):
    vals = data.draw(st.lists(st.one_of(st.none(), _decimal_double(e)), min_size=1, max_size=300))
    arr = pa.array(vals, pa.float64())
    assert _check(arr) == (True, True)
    valid = arr.drop_null()
    assert int_view(valid, "DOUBLE")[0].exponent <= e


@given(
    st.lists(
        st.one_of(st.none(), _decimal_double(3), st.floats(allow_nan=True, allow_infinity=True), _SPECIAL),
        min_size=1,
        max_size=300,
    )
)
@settings(max_examples=120, deadline=None)
def test_any_doubles_round_trip(vals):
    arr = pa.array(vals, pa.float64())
    accepted = _check(arr)
    x = np.asarray(arr.drop_null())
    if not np.isfinite(x).all() or (np.signbit(x) & (x == 0)).any() or (np.abs(x) > 2.0**53).any():
        assert accepted == (False, False)


@given(p=st.integers(1, 38), data=st.data())
@settings(max_examples=120, deadline=None)
def test_decimals_round_trip(p, data):
    s = data.draw(st.integers(0, p))
    unscaled = st.integers(-(10**p - 1), 10**p - 1)
    vals = data.draw(st.lists(st.one_of(st.none(), unscaled), min_size=1, max_size=300))
    ctx = decimal.Context(prec=40)  # the default 28 digits would round p > 28
    arr = pa.array([None if v is None else decimal.Decimal(v).scaleb(-s, ctx) for v in vals], pa.decimal128(p, s))
    assert _check(arr) == ((p <= 18,) * 2)


def _decimal12_from_buffers(unscaled: list[int]) -> pa.Array:
    raw = b"".join(v.to_bytes(16, "little", signed=True) for v in unscaled)
    return pa.Array.from_buffers(pa.decimal128(12, 2), len(unscaled), [None, pa.py_buffer(raw)])


@pytest.mark.parametrize("bad", [10**15, -(10**12), 2**70, -(2**64)])
def test_decimal_beyond_its_precision_stays_plain(bad):
    good = [k * 7919 % 100_003 for k in range(1000)]
    assert select_codec(_decimal12_from_buffers(good), "FIXED_LEN_BYTE_ARRAY") == "for"
    arr = _decimal12_from_buffers(good[:500] + [bad] + good[500:])
    assert select_codec(arr, "FIXED_LEN_BYTE_ARRAY") == "plain"
    assert _check(arr) == (False, False)


@given(
    lo=st.integers(-_I64, _I64 - 1),
    step=st.one_of(st.integers(2, 16), st.integers(2**61, 2**64 - 1)),
    data=st.data(),
)
@settings(max_examples=120, deadline=None)
def test_int64_steps_near_both_ends(lo, step, data):
    kmax = (_I64 - 1 - lo) // step
    assume(kmax >= 1)
    ks = data.draw(st.lists(st.integers(0, min(kmax, 10**6)), min_size=2, max_size=300))
    arr = pa.array([lo + k * step for k in ks], pa.int64())
    assert _check(arr) == (True, True)
    view, _ = int_view(arr, "INT64")
    if len(set(ks)) > 1:
        assert view.step % step == 0


@pytest.mark.parametrize(
    "arrow_type,vals",
    [
        (pa.uint32(), [2**31 - 5 + k for k in range(10)] * 50),
        (pa.uint64(), [2**63 + 977 * k for k in range(500)]),
        (pa.int8(), [-128 + 3 * (k % 86) for k in range(500)]),
        (pa.date32(), [7 * k for k in range(500)]),
    ],
)
def test_narrow_unsigned_and_temporal_columns(arrow_type, vals):
    arr = pa.array(vals, arrow_type)
    assert _check(arr) == (True, True)
    plan = plan_from_schema(pa.schema([pa.field("c", arrow_type)]))[0]
    _, meta = serialize_chunk(shred(arr, plan), "for")
    assert meta.encoded_bytes < meta.plain_bytes / 3  # the view keeps the range narrow
