"""Alphabet-packed codec for small-alphabet strings (hex hashes etc.).

A commit column is 40 random hex chars: dictionary and RLE are useless
(every value unique), FSST caps near 2x at high cost — but the
*alphabet* has only 16 symbols, so each byte carries <= 4 bits.  This
codec stores the alphabet once and bit-packs per-byte symbol indices at
``bit_length(alphabet_size - 1)`` bits (reusing the engine's LSB-first
packer), giving the entropy-bound ratio (2x for hex) at memory speed
with two table lookups per byte.

Applicable when a chunk's distinct byte values <= 16.

Layout: u8 alphabet_size | alphabet bytes | u8 bit_width |
section(FOR(per-string byte lengths)) | packed symbol bits
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from cpp_parquet_spark.kernels.bitpack import bit_width_for, pack_bits, put_section, take_section, unpack_bits
from cpp_parquet_spark.kernels.forpack import decode_for, encode_for
from cpp_parquet_spark.kernels.plain import _byte_components

MAX_ALPHABET = 16


def alphabet_of(values: pa.Array, cap: int = MAX_ALPHABET + 1) -> bytes | None:
    """The chunk's distinct bytes, or None if more than ``cap - 1``."""
    _, payload = _byte_components(values)
    if not len(payload):
        return b""
    present = np.flatnonzero(np.bincount(payload, minlength=256))
    if len(present) > cap - 1:
        return None
    return bytes(present.tolist())


def encode_alpha(values: pa.Array) -> bytes:
    lengths, payload = _byte_components(values)
    alphabet = alphabet_of(values)
    if alphabet is None:
        raise ValueError("alphabet exceeds 16 distinct bytes")
    card = max(len(alphabet), 1)
    width = bit_width_for(card - 1)
    lut = np.zeros(256, dtype=np.uint8)
    lut[np.frombuffer(alphabet, dtype=np.uint8)] = np.arange(len(alphabet), dtype=np.uint8)
    symbols = lut[payload]
    out = bytearray()
    out.append(len(alphabet))
    out += alphabet
    out.append(width)
    put_section(out, encode_for(lengths) if len(lengths) else b"")
    out += pack_bits(symbols, width)
    return bytes(out)


def decode_alpha(buf: bytes, n: int, arrow_type: pa.DataType) -> pa.Array:
    mv = memoryview(buf)
    asize = mv[0]
    alphabet = np.frombuffer(mv[1 : 1 + asize], dtype=np.uint8)
    pos = 1 + asize
    width = mv[pos]
    lblob, pos = take_section(mv, pos + 1)
    lengths = decode_for(lblob, n) if n else np.zeros(0, np.int64)
    total = int(lengths.sum())
    symbols = unpack_bits(np.frombuffer(mv[pos:], dtype=np.uint8), width, total).astype(np.int64)
    payload = alphabet[symbols] if total else np.zeros(0, np.uint8)
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int64)
    arr = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(),
        n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(payload.tobytes())],
    )
    return arr.cast(arrow_type)
