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


def fixed_np(values: pa.Array) -> np.ndarray:
    """Numpy view of a fixed-width array; dates and timestamps become
    their raw int64 day / tick counts (pyarrow 16 has no date32->int64
    cast, so dates go via int32)."""
    t = values.type
    if pa.types.is_date32(t):
        return np.asarray(values.cast(pa.int32())).astype(np.int64)
    if pa.types.is_timestamp(t):
        return np.asarray(values.cast(pa.int64()))
    return np.asarray(values)


def physical_np(values: pa.Array, physical: str) -> np.ndarray:
    """Values in the little-endian dtype of their Parquet physical type
    (integers wrap to that width: unsigned columns keep their bit
    pattern)."""
    return np.ascontiguousarray(fixed_np(values).astype(_FIXED_NP[physical], copy=False))


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
        arr = np.frombuffer(buf, dtype=_FIXED_NP[physical], count=n)
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
