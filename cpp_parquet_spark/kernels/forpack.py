"""Frame-of-reference bit-packing: the one integer packer.

North-rule codec (no reference analogue — the reference only writes
PLAIN, parquet-column.cc:385-388): subtract a minimum, bit-pack the
non-negative remainders at minimal width (PAPERS.md:10 pattern) with the
LSB-first packer the hybrid RLE uses (bitpack.pack_bits).  Three layouts
sit on that one step:

* ``for``: one frame for the whole chunk.
  Layout: i64 min (LE) | u8 width | packed bits.
* ``delta``: the same frame over consecutive differences.
  Layout: i64 first (LE) | ``for`` blob of the n-1 diffs.
  As chunk codecs both pack the scaled-integer view of the column
  (``kernels/plain.int_view``: integers and temporals, decimal128 with
  precision <= 18, decimal-valued DOUBLE chunks), and the chunk payload
  is the view's 18-byte header followed by this layout.
* Parquet DELTA_BINARY_PACKED (public spec Encodings.md): one frame per
  128-value block, one width per 32-value miniblock.
  Layout: <block size: ULEB128> <miniblocks per block: ULEB128>
  <total value count: ULEB128> <first value: zigzag ULEB128>, then per
  block <min delta: zigzag ULEB128> <u8 bit width per miniblock>
  <miniblocks packed at their widths>.  Unused trailing miniblocks of the
  last block get width 0 and no data; a part-filled miniblock is
  zero-padded (readers stop at the total count).
  DELTA_LENGTH_BYTE_ARRAY is DELTA_BINARY_PACKED lengths followed by the
  concatenated value bytes — the spec's form of the engine's own PLAIN
  BYTE_ARRAY layout (kernels/plain.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from cpp_parquet_spark.kernels.bitpack import encode_vlq, pack_bits, unpack_bits

_BLOCK = 128
_MINIBLOCKS = 4
_MB_VALUES = _BLOCK // _MINIBLOCKS  # 32: a miniblock at width w is 4w bytes
_POW2 = np.uint64(1) << np.arange(64, dtype=np.uint64)


def encode_for(values: pa.Array | np.ndarray) -> bytes:
    v = np.asarray(values)
    if v.dtype.kind not in "iu":
        raise TypeError(f"frame-of-reference needs integers, got {v.dtype}")
    n = len(v)
    if n == 0:
        return (0).to_bytes(8, "little", signed=True) + b"\x00"
    v = v.astype(np.int64, copy=False)
    lo = int(v.min())
    deltas = (v - lo).astype(np.uint64)
    hi = int(deltas.max())
    width = hi.bit_length()  # 0 allowed: constant column packs to nothing
    out = bytearray(lo.to_bytes(8, "little", signed=True))
    out.append(width)
    out += pack_bits(deltas, width)
    return bytes(out)


def decode_for(buf: bytes, n: int) -> np.ndarray:
    lo = int.from_bytes(buf[:8], "little", signed=True)
    width = buf[8]
    deltas = unpack_bits(np.frombuffer(buf, dtype=np.uint8, offset=9), width, n)
    return deltas.astype(np.int64) + lo


def encode_delta(values: pa.Array | np.ndarray) -> bytes:
    """Delta + frame-of-reference: first value i64, then FOR over the
    consecutive differences — near-zero bits/value for monotone ids
    (FIXTURES.md F8 row_id case)."""
    v = np.asarray(values)
    if v.dtype.kind not in "iu":
        raise TypeError(f"delta needs integers, got {v.dtype}")
    v = v.astype(np.int64, copy=False)
    n = len(v)
    first = int(v[0]) if n else 0
    out = bytearray(first.to_bytes(8, "little", signed=True))
    out += encode_for(np.diff(v)) if n > 1 else encode_for(np.zeros(0, np.int64))
    return bytes(out)


def decode_delta(buf: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    first = int.from_bytes(buf[:8], "little", signed=True)
    diffs = decode_for(buf[8:], n - 1)
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    np.cumsum(diffs, out=out[1:])
    out[1:] += first
    return out


def _zigzag_vlq(v: int) -> bytes:
    return encode_vlq(2 * v if v >= 0 else -2 * v - 1)


def encode_delta_binary_packed(values: np.ndarray) -> bytes:
    """DELTA_BINARY_PACKED over int32 or int64 values.  Deltas and
    ``delta - min_delta`` wrap in the values' own width, as the spec
    requires, so every INT32/INT64 column is encodable and no miniblock
    is wider than the physical type."""
    v = np.ascontiguousarray(values)
    if v.dtype not in (np.int32, np.int64):
        raise TypeError(f"DELTA_BINARY_PACKED needs int32/int64, got {v.dtype}")
    n = len(v)
    head = encode_vlq(_BLOCK) + encode_vlq(_MINIBLOCKS) + encode_vlq(n) + _zigzag_vlq(int(v[0]) if n else 0)
    if n <= 1:
        return head
    d = np.diff(v)  # wraps in v's dtype
    nblocks = -(-len(d) // _BLOCK)
    # pad with the dtype's max so padding never becomes a block minimum,
    # then zero it after the FOR step: padding packs as zeros
    blocks = np.concatenate([d, np.full(nblocks * _BLOCK - len(d), np.iinfo(d.dtype).max, d.dtype)])
    blocks = blocks.reshape(nblocks, _BLOCK)
    mins = blocks.min(axis=1)
    adj = (blocks - mins[:, None]).view(np.uint32 if d.dtype == np.int32 else np.uint64)
    adj.reshape(-1)[len(d) :] = 0
    mbs = adj.reshape(-1, _MB_VALUES)
    widths = np.searchsorted(_POW2, mbs.max(axis=1), side="right")
    # miniblocks laid out back to back; one pack_bits call per width
    mb_len = 4 * widths
    mb_off = np.cumsum(mb_len) - mb_len
    body = np.empty(int(mb_len.sum()), dtype=np.uint8)
    for w in np.unique(widths[widths > 0]).tolist():
        sel = np.flatnonzero(widths == w)
        packed = np.frombuffer(pack_bits(mbs[sel].reshape(-1), w), dtype=np.uint8)
        body[(mb_off[sel][:, None] + np.arange(4 * w)).reshape(-1)] = packed
    block_off = np.concatenate(([0], np.cumsum(mb_len.reshape(nblocks, _MINIBLOCKS).sum(axis=1)))).tolist()
    width_bytes = widths.astype(np.uint8).tobytes()
    body_mv = memoryview(body)
    parts = [head]
    for b, lo in enumerate(mins.tolist()):
        parts += (
            _zigzag_vlq(lo),
            width_bytes[_MINIBLOCKS * b : _MINIBLOCKS * (b + 1)],
            body_mv[block_off[b] : block_off[b + 1]],
        )
    return b"".join(parts)


def encode_delta_length_byte_array(values: pa.Array) -> bytes:
    """DELTA_LENGTH_BYTE_ARRAY: DELTA_BINARY_PACKED int32 lengths, then
    the concatenated value bytes (no per-value prefixes)."""
    from cpp_parquet_spark.kernels.plain import _byte_components

    if len(values) == 0:
        return encode_delta_binary_packed(np.zeros(0, dtype=np.int32))
    lengths, payload = _byte_components(values)
    return encode_delta_binary_packed(lengths.astype(np.int32)) + payload.tobytes()
