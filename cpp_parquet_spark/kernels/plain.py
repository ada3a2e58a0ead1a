"""PLAIN value encoding — the reference's only data encoding.

Fixed-width values are raw little-endian bytes (AddRecords memcpy,
parquet-column.cc:164-186).  Booleans are stored one byte per value,
matching the reference (parquet-column.cc:282-284 — its
"TODO(nealsid): fix this" not-bit-packed representation *is* the
baseline layout we must not exceed).

BYTE_ARRAY: the reference interleaves a 4-byte LE length prefix with
each value (AddVariableLengthByteArray, parquet-column.cc:238-258).
That layout forces a sequential scan to decode (each prefix sits at a
data-dependent position).  The SGC1-internal layout instead stores a
FOR-encoded *lengths stream* followed by the contiguous payload — the
same bytes, one cumsum to rebuild offsets, zero-copy decode.  The
reference's interleaved layout is still produced where it must be: in
``parquet_writer`` (real Parquet PLAIN pages) and in ``plain_size``,
the byte-accounting function the compression baseline is measured
against (Σ(4+len) per ColumnDataSizeInBytes, parquet-column.cc:367-381).

Unlike the reference we allow zero-length byte arrays (it rejects them,
parquet-column.cc:246-248); Arrow data contains empty strings.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from cpp_parquet_spark.kernels.bitpack import put_section, take_section

_FIXED_NP = {
    "INT32": np.dtype("<i4"),
    "INT64": np.dtype("<i8"),
    "FLOAT": np.dtype("<f4"),
    "DOUBLE": np.dtype("<f8"),
    "BOOLEAN": np.dtype("u1"),
}


def physical_np(values: pa.Array, physical: str) -> np.ndarray:
    """Values in the little-endian dtype of their Parquet physical type:
    dates and timestamps as their raw day / tick counts, integers
    wrapped to that width (unsigned columns keep their bit pattern)."""
    if pa.types.is_date32(values.type):
        values = values.cast(pa.int32())
    elif pa.types.is_timestamp(values.type):
        values = values.cast(pa.int64())
    return np.ascontiguousarray(np.asarray(values).astype(_FIXED_NP[physical], copy=False))


def _from_physical_np(arr: np.ndarray, arrow_type: pa.DataType) -> pa.Array:
    """Inverse of :func:`physical_np`."""
    if pa.types.is_unsigned_integer(arrow_type):
        # unsigned columns are stored as the raw two's-complement
        # bit pattern of their physical width — reinterpret, don't
        # value-cast (negatives would overflow)
        arr = arr.view(np.dtype(f"<u{arr.dtype.itemsize}"))
    if pa.types.is_date(arrow_type):  # no int64->date32 cast path needed:
        return pa.array(arr, type=pa.int32()).cast(arrow_type)
    if pa.types.is_timestamp(arrow_type):
        return pa.array(arr).cast(arrow_type)
    if pa.types.is_boolean(arrow_type):
        return pa.array(arr.astype(bool))
    return pa.array(arr, type=arrow_type)


# The scaled-integer view: what the integer codecs (``for``/``delta``)
# see of a column.  Physical integers (dates, timestamps and unsigned
# columns included) stay as they are; a decimal128 with precision <= 18
# becomes its unscaled int64; a DOUBLE chunk becomes int64 x 10^e for
# the smallest e at which every value round-trips bit-exactly (the ALP
# exponent search).  On top of that, when the distances to the minimum
# share a gcd > 1, the ints become (v - min) / gcd (timestamps at
# midnight: one day).  An 18-byte header records how to undo it:
# u8 kind | u8 exponent | i64 base | u64 step (base 0, step 1: none).
_VIEW_INT, _VIEW_DECIMAL, _VIEW_DOUBLE = 0, 1, 2
_VIEW_HEADER = struct.Struct("<BBqQ")
_POW10 = [float(10**e) for e in range(19)]  # exact doubles
_EXACT_INTS = float(1 << 53)  # doubles hold every integer up to here


@dataclass(frozen=True)
class IntView:
    """How packed ints ``q`` map back: ``base + q * step`` (mod 2^64)
    is the physical integer, the unscaled decimal, or the double times
    10^exponent."""

    kind: int
    exponent: int = 0
    base: int = 0
    step: int = 1

    def header(self) -> bytes:
        return _VIEW_HEADER.pack(self.kind, self.exponent, self.base, self.step)


def _view_kind(physical: str, t: pa.DataType) -> int:
    if physical in ("INT32", "INT64"):
        return _VIEW_INT
    if physical == "DOUBLE":
        return _VIEW_DOUBLE
    if pa.types.is_decimal128(t) and t.precision <= 18:
        return _VIEW_DECIMAL
    raise ValueError(f"{t} has no scaled-integer view")


def _unscale(ints: np.ndarray, e: int) -> np.ndarray:
    return ints.astype(np.float64) / _POW10[e]


def _double_ints(x: np.ndarray) -> tuple[int, np.ndarray]:
    """(e, int64 x * 10^e) for the smallest e in [0, 18] at which the
    whole array round-trips through :func:`_unscale`; the candidates
    are screened on a strided sample first."""
    if len(x) and not (np.isfinite(x).all() and np.abs(x).max() <= _EXACT_INTS):
        raise ValueError("NaN, infinite or beyond-2^53 doubles have no integer view")
    if (np.signbit(x) & (x == 0)).any():
        raise ValueError("-0.0 has no integer view")

    def scaled(v: np.ndarray, e: int) -> np.ndarray | None:
        f = np.rint(v * _POW10[e])
        if len(f) and np.abs(f).max() > _EXACT_INTS:
            return None
        ints = f.astype(np.int64)
        return ints if np.array_equal(_unscale(ints, e), v) else None

    sample = x[:: max(1, len(x) // 1024)]
    for e in range(len(_POW10)):
        if scaled(sample, e) is not None and (ints := scaled(x, e)) is not None:
            return e, ints
    raise ValueError("doubles are not decimal at any exponent up to 18")


def _decimal_ints(values: pa.Array) -> np.ndarray:
    """Unscaled int64 of a decimal128 array: offered only if every high
    word is the sign extension of its low word and every value is
    within the declared precision."""
    words = _flba_payload(values).view("<i8").reshape(-1, 2)
    lo, hi = words[:, 0], words[:, 1]
    limit = 10**values.type.precision - 1
    if not (hi == lo >> 63).all() or (lo > limit).any() or (lo < -limit).any():
        raise ValueError("decimal values beyond int64 or their precision have no integer view")
    return np.ascontiguousarray(lo)


def int_view(values: pa.Array, physical: str) -> tuple[IntView, np.ndarray]:
    """(view, int64 ints) of a null-free column; ``ValueError`` where
    the column has no view."""
    if values.null_count:
        raise ValueError("the scaled-integer view takes non-null values")
    kind, e = _view_kind(physical, values.type), 0
    if kind == _VIEW_INT:
        ints = physical_np(values, "INT64")  # uint64 keeps its bit pattern
    elif kind == _VIEW_DECIMAL:
        ints = _decimal_ints(values)
    else:
        e, ints = _double_ints(np.asarray(values))
    if len(ints) < 2:
        return IntView(kind, e), ints
    lo = ints.min()
    # distances to the minimum in uint64: v - min cannot overflow there
    d = ints.view(np.uint64) - lo.view(np.uint64)
    step = int(np.gcd.reduce(d[:256]))
    if step != 1:
        step = int(np.gcd(np.uint64(step), np.gcd.reduce(d)))
    if step <= 1:
        return IntView(kind, e), ints
    return IntView(kind, e, int(lo), step), (d // np.uint64(step)).view(np.int64)


def parse_view(buf: bytes) -> tuple[IntView, int]:
    """The view header at the start of ``buf``: (view, header length)."""
    if len(buf) < _VIEW_HEADER.size:
        raise ValueError("truncated integer view header")
    view = IntView(*_VIEW_HEADER.unpack_from(buf))
    if view.kind not in (_VIEW_INT, _VIEW_DECIMAL, _VIEW_DOUBLE):
        raise ValueError(f"unknown integer view kind {view.kind}")
    return view, _VIEW_HEADER.size


def from_int_view(view: IntView, ints: np.ndarray, physical: str, arrow_type: pa.DataType) -> pa.Array:
    """The column an :func:`int_view` came from, rebuilt as ``arrow_type``."""
    if view.kind != _view_kind(physical, arrow_type):
        raise ValueError(f"integer view kind {view.kind} does not fit a {arrow_type} column")
    if view.step > 1:
        ints = (ints.view(np.uint64) * np.uint64(view.step) + np.int64(view.base).view(np.uint64)).view(np.int64)
    if view.kind == _VIEW_DOUBLE:
        return pa.array(_unscale(ints, view.exponent), type=arrow_type)
    if view.kind == _VIEW_DECIMAL:
        words = np.empty((len(ints), 2), dtype="<i8")
        words[:, 0] = ints
        words[:, 1] = ints >> 63
        return pa.Array.from_buffers(arrow_type, len(ints), [None, pa.py_buffer(words.tobytes())])
    return _from_physical_np(ints.astype(_FIXED_NP[physical]), arrow_type)


def decimal_type_length(precision: int) -> int:
    """Minimal FLBA byte length holding `precision` decimal digits
    signed (Parquet LogicalTypes.md).  Readers (DuckDB) reject decimal
    columns declared wider than this."""
    n = 1
    while 10**precision > 1 << (8 * n - 1):
        n += 1
    return n


def _flba_payload(values: pa.Array) -> np.ndarray:
    """Raw back-to-back bytes of a fixed_size_binary array (the
    Parquet PLAIN layout for FIXED_LEN_BYTE_ARRAY: no length prefixes,
    n * type_length bytes)."""
    if isinstance(values, pa.ChunkedArray):  # pragma: no cover - defensive
        values = values.combine_chunks()
    w = values.type.byte_width
    data = np.frombuffer(values.buffers()[1], dtype=np.uint8)
    start = values.offset * w
    return data[start : start + len(values) * w]


def _byte_components(values: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(lengths, payload bytes) of a string/binary array, zero-copy."""
    if not (pa.types.is_large_string(values.type) or pa.types.is_large_binary(values.type)):
        values = values.cast(pa.large_binary())
    bufs = values.buffers()
    n = len(values)
    offsets = np.frombuffer(bufs[1], dtype=np.int64)[values.offset : values.offset + n + 1]
    data = np.frombuffer(bufs[2] or b"", dtype=np.uint8)
    lengths = (offsets[1:] - offsets[:-1]).astype(np.int64)
    payload = data[offsets[0] : offsets[-1]] if n else data[:0]
    return lengths, payload


def encode_plain(values: pa.Array, physical: str) -> bytes:
    n = len(values)
    if physical == "FIXED_LEN_BYTE_ARRAY":
        return _flba_payload(values).tobytes() if n else b""
    if physical != "BYTE_ARRAY":
        return physical_np(values, physical).tobytes() if n else b""
    if n == 0:
        return b""
    from cpp_parquet_spark.kernels.forpack import encode_for

    lengths, payload = _byte_components(values)
    out = bytearray()
    put_section(out, encode_for(lengths))
    out += payload.tobytes()
    return bytes(out)


def decode_plain(buf: bytes, n: int, physical: str, arrow_type: pa.DataType) -> pa.Array:
    if physical == "FIXED_LEN_BYTE_ARRAY":
        return pa.Array.from_buffers(arrow_type, n, [None, pa.py_buffer(bytes(buf))])
    if physical != "BYTE_ARRAY":
        return _from_physical_np(np.frombuffer(buf, dtype=_FIXED_NP[physical], count=n), arrow_type)
    if n == 0:
        return pa.array([], type=arrow_type)
    from cpp_parquet_spark.kernels.forpack import decode_for

    mv = memoryview(buf)
    len_blob, pos = take_section(mv, 0)
    lengths = decode_for(len_blob, n)
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int64)
    out = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(),
        n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(bytes(mv[pos:]))],
    )
    return out.cast(arrow_type)


def encode_plain_parquet(values: pa.Array, physical: str) -> bytes:
    """The reference/Parquet *wire* PLAIN layout: each BYTE_ARRAY value
    is a 4-byte LE length prefix + bytes, interleaved
    (AddVariableLengthByteArray, parquet-column.cc:238-258).  Used by
    ``parquet_writer`` for real data pages; ``len == plain_size`` by
    construction.  Fixed-width types are identical to
    :func:`encode_plain`.
    """
    n = len(values)
    if physical == "FIXED_LEN_BYTE_ARRAY":
        if n == 0:
            return b""
        payload = _flba_payload(values)
        if pa.types.is_decimal(values.type):
            # Parquet DECIMAL-as-FLBA is BIG-endian unscaled two's
            # complement at the MINIMAL length for the precision
            # (LogicalTypes.md; DuckDB rejects wider declarations);
            # Arrow stores 16-byte little-endian — swap, then keep the
            # low-order bytes (high bytes are sign extension by the
            # precision bound)
            w = values.type.byte_width
            m = decimal_type_length(values.type.precision)
            payload = payload.reshape(-1, w)[:, ::-1][:, w - m :]
        return payload.tobytes()
    if physical != "BYTE_ARRAY":
        return physical_np(values, physical).tobytes() if n else b""
    if n == 0:
        return b""
    lengths, payload = _byte_components(values)
    data_len = int(lengths.sum())
    total = 4 * n + data_len
    out = np.zeros(total, dtype=np.uint8)
    cum = np.cumsum(lengths) - lengths  # exclusive prefix of value bytes
    starts = 4 * np.arange(n, dtype=np.int64) + cum  # where each u32 prefix goes
    out[(starts[:, None] + np.arange(4)).ravel()] = (
        lengths.astype("<u4").view(np.uint8).reshape(n, 4).ravel()
    )
    if data_len:
        tgt = np.repeat(starts + 4 - cum, lengths) + np.arange(data_len, dtype=np.int64)
        out[tgt] = payload
    return out.tobytes()


def plain_size(values: pa.Array, physical: str) -> int:
    """Reference PLAIN size: ColumnDataSizeInBytes semantics
    (parquet-column.cc:367-381): n*width for fixed, Σ(4+len) for
    BYTE_ARRAY."""
    n = len(values)
    if physical == "FIXED_LEN_BYTE_ARRAY":
        return n * values.type.byte_width
    if physical != "BYTE_ARRAY":
        return n * _FIXED_NP[physical].itemsize
    if n == 0:
        return 0
    lengths, _ = _byte_components(values)
    return int(lengths.sum()) + 4 * n
