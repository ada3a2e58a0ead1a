"""Dictionary encoding with RLE/bit-packed hybrid indices.

North-rule codec.  The reference left this as a TODO ("allow 0
bit_width (and have dict encoder use it)",
util/rle-encoding.h:119); the index stream reuses the exact hybrid
wire grammar of rle.encode_hybrid, which is also how Parquet's own
RLE_DICTIONARY works.  Dictionary values are stored PLAIN
(parquet-column.cc:238-258 layout for strings).

Layout: u32 cardinality | PLAIN dict values | u8 index bit width |
u32 index stream length | hybrid-RLE indices.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from cpp_parquet_spark.kernels.bitpack import bit_width_for
from cpp_parquet_spark.kernels.plain import decode_plain, encode_plain
from cpp_parquet_spark.kernels.rle import decode_hybrid, encode_hybrid


def dictionary_split(values: pa.Array) -> tuple[pa.Array, np.ndarray, int]:
    """(dictionary in first-seen order, uint64 indices, index bit width)
    — shared by the SGC ``dict`` codec and Parquet RLE_DICTIONARY pages."""
    if isinstance(values, pa.ChunkedArray):  # pragma: no cover - defensive
        values = values.combine_chunks()
    denc = values.dictionary_encode()
    width = bit_width_for(max(len(denc.dictionary) - 1, 0))
    return denc.dictionary, np.asarray(denc.indices, dtype=np.uint64), width


def encode_dict(values: pa.Array, physical: str) -> bytes:
    if len(values) == 0:
        return (0).to_bytes(4, "little")
    dictionary, indices, width = dictionary_split(values)
    card = len(dictionary)
    dict_bytes = encode_plain(dictionary, physical)
    idx_bytes = encode_hybrid(indices, width)
    out = bytearray(card.to_bytes(4, "little"))
    out += len(dict_bytes).to_bytes(4, "little")
    out += dict_bytes
    out.append(width)
    out += len(idx_bytes).to_bytes(4, "little")
    out += idx_bytes
    return bytes(out)


def decode_dict(buf: bytes, n: int, physical: str, arrow_type: pa.DataType) -> pa.Array:
    if n == 0:
        return pa.array([], type=arrow_type)
    mv = memoryview(buf)
    card = int.from_bytes(mv[0:4], "little")
    dlen = int.from_bytes(mv[4:8], "little")
    pos = 8
    dictionary = decode_plain(bytes(mv[pos : pos + dlen]), card, physical, arrow_type)
    pos += dlen
    width = mv[pos]
    pos += 1
    ilen = int.from_bytes(mv[pos : pos + 4], "little")
    pos += 4
    indices = decode_hybrid(mv[pos : pos + ilen], width, n).astype(np.int64)
    return dictionary.take(pa.array(indices))
