"""Column-chunk serialization — our page format (reference O13/O14).

Byte layout mirrors ParquetColumn::Flush (parquet-column.cc:383-455):
a fixed header, then `[u32 length + RLE bytes]` for repetition levels
(skipped unless the column is REPEATED, parquet-column.cc:341-348),
the same for definition levels (skipped if REQUIRED, :356-365), then
the codec-specific data section.  Level streams use the hybrid RLE at
bit width derived from the max level, exactly like EncodeLevels
(parquet-column.cc:307-335).

The chunk is self-describing enough to decode given the column's
``ColumnPlan`` (physical type + arrow type + level maxima).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from cpp_parquet_spark.kernels import rle
from cpp_parquet_spark.kernels.alpha import decode_alpha, encode_alpha
from cpp_parquet_spark.kernels.bitpack import bit_width_for, put_section, take_section
from cpp_parquet_spark.kernels.dictionary import decode_dict, encode_dict
from cpp_parquet_spark.kernels.forpack import decode_delta, decode_for, encode_delta, encode_for
from cpp_parquet_spark.kernels.fsst import decode_fsst, encode_fsst
from cpp_parquet_spark.kernels.levels import ShreddedColumn, framed_levels, unshred
from cpp_parquet_spark.kernels.lined import decode_lined, encode_lined
from cpp_parquet_spark.kernels.plain import (
    decode_plain, encode_plain, from_int_view, int_view, parse_view, plain_size,
)
from cpp_parquet_spark.kernels.rle_runs import decode_rle_runs, encode_rle_runs
from cpp_parquet_spark.schema_plan import ColumnPlan

# The magic changes with every payload layout change.  EncodeJob
# supports cross-run resume, so a store persisted by another layout must
# be rejected loudly, not misdecoded.  SGC2: PLAIN BYTE_ARRAY became a
# FOR lengths block + contiguous payload.  SGC3: the ``for``/``delta``
# payloads start with the scaled-integer view header
# (kernels/plain.int_view) and take decimals and doubles; an SGC2 reader
# would decode a decimal's unscaled ints as values 10^scale too large.
MAGIC = b"SGC3"

CODECS = ("plain", "dict", "rle", "fsst", "for", "lined", "delta", "alpha", "boolpack")
_CODEC_ID = {name: i for i, name in enumerate(CODECS)}

# codec -> (encode, decode) for the codecs that take BYTE_ARRAY only
_STRING_CODECS = {
    "fsst": (encode_fsst, decode_fsst),
    "lined": (encode_lined, decode_lined),
    "alpha": (encode_alpha, decode_alpha),
}


def _encode_values(values: pa.Array, codec: str, physical: str) -> bytes:
    if codec in _STRING_CODECS and physical != "BYTE_ARRAY":
        raise ValueError(f"{codec} only applies to BYTE_ARRAY columns")
    if codec == "plain":
        return encode_plain(values, physical)
    if codec == "dict":
        return encode_dict(values, physical)
    if codec == "rle":
        return encode_rle_runs(values, physical)
    if codec in _STRING_CODECS:
        return _STRING_CODECS[codec][0](values)
    if codec == "boolpack":
        if physical != "BOOLEAN":
            raise ValueError("boolpack only applies to BOOLEAN columns")
        # LSB-first bit packing — 8x vs the reference's byte-per-value
        # PLAIN baseline (parquet-column.cc:282-284) and identical to
        # real Parquet's PLAIN boolean layout
        return np.packbits(np.asarray(values, dtype=bool), bitorder="little").tobytes()
    if codec in ("for", "delta"):
        view, ints = int_view(values, physical)
        return view.header() + (encode_for(ints) if codec == "for" else encode_delta(ints))
    raise ValueError(f"unknown codec {codec}")


def _decode_values(buf: bytes, n: int, codec: str, physical: str, arrow_type: pa.DataType) -> pa.Array:
    if codec == "plain":
        return decode_plain(buf, n, physical, arrow_type)
    if codec == "dict":
        return decode_dict(buf, n, physical, arrow_type)
    if codec == "rle":
        return decode_rle_runs(buf, n, physical, arrow_type)
    if codec in _STRING_CODECS:
        return _STRING_CODECS[codec][1](buf, n, arrow_type)
    if codec == "boolpack":
        bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8), count=n, bitorder="little")
        return pa.array(bits.astype(bool), type=arrow_type)
    if codec in ("for", "delta"):
        view, pos = parse_view(buf)
        ints = decode_for(buf[pos:], n) if codec == "for" else decode_delta(buf[pos:], n)
        return from_int_view(view, ints, physical, arrow_type)
    raise ValueError(f"unknown codec {codec}")


@dataclass
class ChunkMeta:
    codec: str
    num_entries: int
    num_values: int
    encoded_bytes: int
    plain_bytes: int  # what the reference PLAIN layout would occupy
    plain_value_bytes: int  # values only (no header/levels): Σ(4+len) /
    # n*width — chunking-independent, so SQL can recompute it exactly


def serialize_chunk(sh: ShreddedColumn, codec: str) -> tuple[bytes, ChunkMeta]:
    plan = sh.plan
    out = bytearray(MAGIC)
    out.append(1)  # version
    out.append(_CODEC_ID[codec])
    flags = (1 if plan.max_rep > 0 else 0) | (2 if plan.max_def > 0 else 0)
    out.append(flags)
    out.append(0)
    out += sh.num_entries.to_bytes(4, "little")
    out += len(sh.values).to_bytes(4, "little")

    levels = framed_levels(sh)
    out += levels

    put_section(out, _encode_values(sh.values, codec, plan.physical))
    pvb = plain_size(sh.values, plan.physical)
    meta = ChunkMeta(
        codec=codec,
        num_entries=sh.num_entries,
        num_values=len(sh.values),
        encoded_bytes=len(out),
        plain_bytes=16 + len(levels) + 4 + pvb,
        plain_value_bytes=pvb,
    )
    return bytes(out), meta


def deserialize_chunk(buf: bytes, plan: ColumnPlan) -> ShreddedColumn:
    mv = memoryview(buf)
    if mv[0:4] != MAGIC:
        if bytes(mv[0:3]) == MAGIC[:3]:  # an SGC chunk from another layout version
            raise ValueError(
                f"chunk format {bytes(mv[0:4])!r} does not match this build's {MAGIC!r}; "
                "re-encode the store with this build"
            )
        raise ValueError("bad chunk magic")
    if mv[5] >= len(CODECS):
        raise ValueError(f"unknown codec id {mv[5]} in chunk header byte 5")
    codec = CODECS[mv[5]]
    pos = 8
    num_entries = int.from_bytes(mv[pos : pos + 4], "little")
    num_values = int.from_bytes(mv[pos + 4 : pos + 8], "little")
    pos += 8
    rep_levels = def_levels = None
    if plan.max_rep > 0:
        stream, pos = take_section(mv, pos)
        rep_levels = rle.decode_hybrid(stream, bit_width_for(plan.max_rep), num_entries).astype(np.uint8)
    if plan.max_def > 0:
        stream, pos = take_section(mv, pos)
        def_levels = rle.decode_hybrid(stream, bit_width_for(plan.max_def), num_entries).astype(np.uint8)
    data, _ = take_section(mv, pos)
    values = _decode_values(bytes(data), num_values, codec, plan.physical, plan.arrow_type)
    return ShreddedColumn(
        plan=plan,
        def_levels=def_levels,
        rep_levels=rep_levels,
        values=values,
        num_entries=num_entries,
    )


def decode_chunk_to_column(buf: bytes, plan: ColumnPlan) -> pa.Array:
    sh = deserialize_chunk(buf, plan)
    return unshred(plan, sh.def_levels, sh.rep_levels, sh.values, sh.num_entries)
