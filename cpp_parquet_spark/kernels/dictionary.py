"""Dictionary encoding with RLE/bit-packed hybrid indices.

North-rule codec.  The reference left this as a TODO ("allow 0
bit_width (and have dict encoder use it)",
util/rle-encoding.h:119); the index stream reuses the exact hybrid
wire grammar of rle.encode_hybrid, which is also how Parquet's own
RLE_DICTIONARY works.  Dictionary values are stored PLAIN
(parquet-column.cc:238-258 layout for strings).

Layout: u32 cardinality | section(PLAIN dict values) | u8 index bit
width | section(hybrid-RLE indices), where section(x) is x behind its
u32 length (``bitpack.put_section``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from cpp_parquet_spark.kernels.bitpack import bit_width_for, put_section, take_section
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
    out = bytearray(len(dictionary).to_bytes(4, "little"))
    put_section(out, encode_plain(dictionary, physical))
    out.append(width)
    put_section(out, encode_hybrid(indices, width))
    return bytes(out)


def decode_dict(buf: bytes | memoryview, n: int, physical: str, arrow_type: pa.DataType) -> pa.Array:
    if n == 0:
        return pa.array([], type=arrow_type)
    mv = memoryview(buf)
    card = int.from_bytes(mv[0:4], "little")
    dict_bytes, pos = take_section(mv, 4)
    dictionary = decode_plain(bytes(dict_bytes), card, physical, arrow_type)
    idx_bytes, _ = take_section(mv, pos + 1)
    indices = decode_hybrid(idx_bytes, mv[pos], n).astype(np.int64)
    return dictionary.take(pa.array(indices))
