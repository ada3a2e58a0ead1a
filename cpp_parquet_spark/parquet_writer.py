"""Real Apache Parquet file writer: PAR1 magic + v1 data pages + Thrift
compact footer.

This completes the reference's actual deliverable — a file any
independent Parquet reader can parse.  The reference writes it with
ParquetFile::Flush (parquet-file.cc:118-177: pages per column, then a
``FileMetaData`` footer + u32 length + "PAR1") and frames every page
with a Thrift ``PageHeader`` (parquet-column.cc:383-455); its didactic
raw-Thrift recipe is examples/parquet-file-writer.cc:49-159.  Tests
mirror parquet-file-test.cc:37-50: every produced file must be parsed
by an *independent* reader (pyarrow, DuckDB, Spark).

Differences from the reference, by design:
  * multiple row groups (the reference's Flush writes exactly one);
  * Parquet-conformant PLAIN booleans (bit-packed LSB-first; the
    reference writes one byte per value, parquet-column.cc:282-284,
    which real readers reject);
  * timestamps default to INT64 micros with a TIMESTAMP logical type;
    the reference's legacy INT96 layout (parquet-column.cc:269-288) is
    available opt-in via ``int96_timestamps=True``;
  * the *correct* Dremel level maxima from schema_plan (the reference
    over-counts repetition levels, avro-schema-walker.cc:244-246).

Pages are built from the same kernels as the engine's own chunks
(chunk.serialize_chunk), so each concept has one implementation:
  * level streams: kernels/levels.encode_levels — RLE/bit-packed hybrid,
    u32-framed in v1 pages exactly like EncodeLevels → Flush
    (parquet-column.cc:307-335, 436-443), bare in DATA_PAGE_V2;
  * values: wire PLAIN (encode_plain_parquet) or, beyond the reference's
    PLAIN-only pages, DELTA_BINARY_PACKED / DELTA_LENGTH_BYTE_ARRAY from
    the FOR packer (kernels/forpack.py);
  * dictionaries: kernels/dictionary.dictionary_split feeds a
    DICTIONARY_PAGE + RLE_DICTIONARY pages (kernels/rle.py's hybrid coder
    IS the wire format) for low-cardinality chunks.
v1 and v2 pages frame the same values section.  Column chunks also carry
min/max/null_count Statistics for row-group pruning (the reference
writes none), and pages can be GZIP-compressed (``compression="gzip"``).
"""

from __future__ import annotations

import os
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa

from cpp_parquet_spark import thrift_compact as tc
from cpp_parquet_spark.kernels.dictionary import dictionary_split
from cpp_parquet_spark.kernels.forpack import encode_delta_binary_packed, encode_delta_length_byte_array
from cpp_parquet_spark.kernels.levels import ShreddedColumn, encode_levels, framed_levels, shred
from cpp_parquet_spark.kernels.plain import encode_plain_parquet, physical_np
from cpp_parquet_spark.kernels.rle import encode_hybrid
from cpp_parquet_spark.schema_plan import ColumnPlan, SchemaNode, parquet_schema

MAGIC = b"PAR1"
CREATED_BY = "cpp-parquet-spark"  # FileMetaData.created_by

# parquet.thrift enums (public format spec)
_PHYS_CODE = {
    "BOOLEAN": 0,
    "INT32": 1,
    "INT64": 2,
    "INT96": 3,
    "FLOAT": 4,
    "DOUBLE": 5,
    "BYTE_ARRAY": 6,
    "FIXED_LEN_BYTE_ARRAY": 7,
}
_REPETITION = {"REQUIRED": 0, "OPTIONAL": 1, "REPEATED": 2}
_ENC_PLAIN, _ENC_RLE = 0, 3
_PAGE_DATA = 0
_CODEC_UNCOMPRESSED = 0
_CONV_UTF8, _CONV_DECIMAL, _CONV_DATE = 0, 5, 6
_CONV_TS_MILLIS, _CONV_TS_MICROS = 9, 10
_CONV_INT = {"int8": 15, "int16": 16, "uint8": 11, "uint16": 12, "uint32": 13, "uint64": 14}
# group annotation -> (converted_type, LogicalType union member fid)
_GROUP_ANNOTATION = {"MAP": (1, 2), "LIST": (3, 3)}


def _logical(member_fid: int, member: bytes = tc.struct()) -> bytes:
    """LogicalType union with one member set."""
    return tc.struct(tc.f_struct(member_fid, member))


def _logical_timestamp(adjusted_to_utc: bool, unit_fid: int) -> bytes:
    """TimeUnit member fid: 1=MILLIS, 2=MICROS, 3=NANOS."""
    unit = tc.struct(tc.f_struct(unit_fid, tc.struct()))
    ts = tc.struct(tc.f_bool(1, adjusted_to_utc), tc.f_struct(2, unit))
    return _logical(8, ts)  # LogicalType{8: TIMESTAMP}


# Arrow timestamp unit -> (TimeUnit member fid, converted_type or None).
# Values are written raw in the source unit and the footer declares that
# same unit, so no unit is ever silently rescaled; 's' has no Parquet
# TimeUnit and is cast to 'us' at write time (exact).  Nanos has a
# logical type but no converted type in the spec.
_TS_UNIT = {
    "ms": (1, _CONV_TS_MILLIS),
    "us": (2, _CONV_TS_MICROS),
    "ns": (3, None),
}


def _leaf_annotation(t: pa.DataType) -> tuple[int | None, bytes | None]:
    """(converted_type, LogicalType bytes) of a leaf; either may be None."""
    name = str(t)
    if name in _CONV_INT:
        # unsigned ints annotate the physical type of their own width;
        # values are the raw two's-complement bit pattern
        return _CONV_INT[name], None
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return _CONV_UTF8, _logical(1)  # STRING
    if pa.types.is_decimal(t):
        # big-endian unscaled two's complement (public spec
        # LogicalTypes.md); scale/precision also go into SchemaElement
        # fields 7/8 for old readers
        dec = tc.struct(tc.f_i32(1, t.scale), tc.f_i32(2, t.precision))
        return _CONV_DECIMAL, _logical(5, dec)
    if pa.types.is_date32(t):
        return _CONV_DATE, _logical(6)  # DATE
    if pa.types.is_timestamp(t):
        utc = t.tz is not None
        unit = "us" if t.unit == "s" else t.unit  # seconds cast at write time
        unit_fid, conv = _TS_UNIT[unit]
        return (conv if utc else None), _logical_timestamp(utc, unit_fid)
    return None, None


def _leaf_type(plan: ColumnPlan, int96_timestamps: bool) -> str:
    """Physical type a leaf is written as: the plan's, or legacy INT96
    for timestamps when asked."""
    return "INT96" if int96_timestamps and pa.types.is_timestamp(plan.arrow_type) else plan.physical


def _schema_element(node: SchemaNode, int96_timestamps: bool) -> bytes:
    """Thrift SchemaElement of one schema_plan node."""
    rep = tc.f_i32(3, _REPETITION[node.repetition])
    name = tc.f_binary(4, node.name)
    if node.leaf is None:
        conv, logical = _GROUP_ANNOTATION.get(node.annotation, (None, None))
        return tc.struct(
            rep,
            name,
            tc.f_i32(5, node.num_children),
            tc.f_i32(6, conv) if conv is not None else None,
            tc.f_struct(10, _logical(logical)) if logical is not None else None,
        )
    t = node.leaf.arrow_type
    physical = _leaf_type(node.leaf, int96_timestamps)
    # legacy INT96 mode: bare physical type, no logical annotation
    conv, logical = (None, None) if physical == "INT96" else _leaf_annotation(t)
    is_dec = pa.types.is_decimal(t)
    return tc.struct(
        tc.f_i32(1, _PHYS_CODE[physical]),
        tc.f_i32(2, node.type_length) if node.type_length is not None else None,
        rep,
        name,
        tc.f_i32(6, conv) if conv is not None else None,
        tc.f_i32(7, t.scale) if is_dec else None,
        tc.f_i32(8, t.precision) if is_dec else None,
        tc.f_struct(10, logical) if logical is not None else None,
    )


_JULIAN_UNIX_EPOCH = 2440588
_MICROS_PER_DAY = 86_400_000_000


def _int96_from_timestamps(values: pa.Array) -> bytes:
    """Legacy INT96 timestamps — the reference's timestamp physical type
    (parquet-column.cc:269-288): 8 bytes nanos-of-day LE + 4 bytes
    Julian day LE, 12 bytes per value."""
    micros = np.asarray(values.cast(pa.timestamp(values.type.unit)).cast(pa.int64()))
    unit = values.type.unit
    scale = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": 1}[unit]
    micros = micros * scale if unit != "ns" else micros // 1000
    day = np.floor_divide(micros, _MICROS_PER_DAY)
    nanos = (micros - day * _MICROS_PER_DAY) * 1000
    out = np.zeros((len(micros), 12), dtype=np.uint8)
    out[:, :8] = nanos.astype("<u8").view(np.uint8).reshape(-1, 8)
    out[:, 8:] = (day + _JULIAN_UNIX_EPOCH).astype("<u4").view(np.uint8).reshape(-1, 4)
    return out.tobytes()


def _page_values_plain(values: pa.Array, physical: str, int96: bool = False) -> bytes:
    if physical == "BOOLEAN":
        # spec PLAIN booleans: bit-packed LSB-first (the reference's
        # byte-per-value layout, parquet-column.cc:282-284, is invalid)
        return np.packbits(np.asarray(values, dtype=bool), bitorder="little").tobytes()
    if int96 and pa.types.is_timestamp(values.type):
        return _int96_from_timestamps(values)
    return encode_plain_parquet(values, physical)


_ENC_RLE_DICT = 8
_ENC_DELTA_BP = 5
_ENC_DELTA_LENGTH_BA = 6
_PAGE_DICT = 2
_PAGE_DATA_V2 = 3
_MAX_STAT_BYTES = 64
_CODEC_GZIP = 2


def _gzip(data: bytes) -> bytes:
    import zlib

    co = zlib.compressobj(6, zlib.DEFLATED, 31)  # wbits=31: gzip framing
    return co.compress(data) + co.flush()


def _page(page_type: int, body: bytes, dph: bytes, dph_fid: int, gzip: bool) -> tuple[bytes, int]:
    """Returns (framed page bytes, uncompressed size incl. header) —
    the second feeds ColumnMetaData.total_uncompressed_size."""
    raw_len = len(body)
    if gzip:
        body = _gzip(bytes(body))
    header = tc.struct(
        tc.f_i32(1, page_type),
        tc.f_i32(2, raw_len),  # uncompressed_page_size
        tc.f_i32(3, len(body)),  # compressed_page_size
        tc.f_struct(dph_fid, dph),
    )
    return header + bytes(body), len(header) + raw_len


def _page_values(sh: ShreddedColumn, encoding: int, int96: bool) -> bytes:
    """Encoded values section of a non-dictionary data page."""
    if encoding == _ENC_DELTA_LENGTH_BA:
        return encode_delta_length_byte_array(sh.values)
    if encoding == _ENC_DELTA_BP:
        return encode_delta_binary_packed(physical_np(sh.values, sh.plan.physical))
    return _page_values_plain(sh.values, sh.plan.physical, int96=int96)


def _data_page_v2(sh: ShreddedColumn, values_body: bytes, encoding: int, gzip: bool) -> tuple[bytes, int]:
    """One DATA_PAGE_V2 (public Parquet spec): rep/def level runs sit
    *uncompressed* ahead of the (optionally compressed) values block,
    without v1's u32 prefixes — their byte lengths live in the header
    (definition/repetition_levels_byte_length), so readers can skip to
    the values without decoding levels."""
    plan = sh.plan
    rep, deflev = encode_levels(sh)
    num_rows = (
        int(np.count_nonzero(sh.rep_levels == 0)) if plan.max_rep > 0 else sh.num_entries
    )
    num_nulls = (
        sh.num_entries - int(np.count_nonzero(sh.def_levels == plan.max_def))
        if plan.max_def > 0
        else 0
    )
    comp_values = _gzip(values_body) if gzip else values_body
    raw_len = len(rep) + len(deflev) + len(values_body)
    dph = tc.struct(
        tc.f_i32(1, sh.num_entries),  # num_values incl. nulls
        tc.f_i32(2, num_nulls),
        tc.f_i32(3, num_rows),
        tc.f_i32(4, encoding),
        tc.f_i32(5, len(deflev)),  # definition_levels_byte_length
        tc.f_i32(6, len(rep)),  # repetition_levels_byte_length
        tc.f_bool(7, gzip),  # is_compressed (values block only)
    )
    header = tc.struct(
        tc.f_i32(1, _PAGE_DATA_V2),
        tc.f_i32(2, raw_len),  # uncompressed_page_size
        tc.f_i32(3, len(rep) + len(deflev) + len(comp_values)),
        tc.f_struct(8, dph),  # PageHeader.data_page_header_v2
    )
    return header + rep + deflev + bytes(comp_values), len(header) + raw_len


def _data_page(sh: ShreddedColumn, values_body: bytes, encoding: int, gzip: bool) -> tuple[bytes, int]:
    """One v1 data page: PageHeader + u32-framed level streams + values."""
    body = framed_levels(sh) + values_body
    dph = tc.struct(
        tc.f_i32(1, sh.num_entries),  # num_values incl. nulls
        tc.f_i32(2, encoding),
        tc.f_i32(3, _ENC_RLE),  # definition_level_encoding
        tc.f_i32(4, _ENC_RLE),  # repetition_level_encoding
    )
    return _page(_PAGE_DATA, body, dph, 5, gzip)


def _dictionary_page(dictionary: pa.Array, physical: str, gzip: bool) -> tuple[bytes, int]:
    """Dict values PLAIN in a DICTIONARY_PAGE."""
    dict_body = encode_plain_parquet(dictionary, physical)
    return _page(
        _PAGE_DICT,
        dict_body,
        tc.struct(tc.f_i32(1, len(dictionary)), tc.f_i32(2, _ENC_PLAIN)),
        7,  # PageHeader.dictionary_page_header
        gzip,
    )


def _split_pages(sh: ShreddedColumn, plan: ColumnPlan, max_records: int) -> list[tuple[ShreddedColumn, int, int]]:
    """Split a shredded chunk into page-sized sub-chunks at *record*
    boundaries (pages must start where rep == 0).  Returns
    (page_shred, value_start, value_end) triples.  A 1M-row group as a
    single page forces readers to buffer it whole — real writers bound
    page size (the reference's kDataBytesPerPage intent,
    parquet-file.h:28, which its single-Flush design never exercises)."""
    n_entries = sh.num_entries
    if plan.max_rep > 0:
        rec_starts = np.flatnonzero(sh.rep_levels == 0)
        page_starts = rec_starts[::max_records]
    else:
        page_starts = np.arange(0, n_entries, max_records, dtype=np.int64)
    if len(page_starts) <= 1:
        return [(sh, 0, len(sh.values))]
    if plan.max_def > 0:
        vcum = np.concatenate(([0], np.cumsum(sh.def_levels == plan.max_def)))
    else:
        vcum = np.arange(n_entries + 1)
    bounds = np.append(page_starts, n_entries)
    out = []
    for i in range(len(bounds) - 1):
        e0, e1 = int(bounds[i]), int(bounds[i + 1])
        v0, v1 = int(vcum[e0]), int(vcum[e1])
        out.append(
            (
                ShreddedColumn(
                    plan=plan,
                    def_levels=sh.def_levels[e0:e1] if sh.def_levels is not None else None,
                    rep_levels=sh.rep_levels[e0:e1] if sh.rep_levels is not None else None,
                    values=sh.values.slice(v0, v1 - v0),
                    num_entries=e1 - e0,
                ),
                v0,
                v1,
            )
        )
    return out


def _statistics(sh: ShreddedColumn, physical: str) -> bytes:
    """Thrift Statistics of one column chunk so readers can prune row
    groups (the reference writes none): null_count, plus min/max as the
    PLAIN bytes of the values (``encode_plain_parquet``, without the u32
    length prefix for BYTE_ARRAY).  Min/max are left out for BOOLEAN,
    for chunks holding a NaN (it breaks the ordering) and past
    ``_MAX_STAT_BYTES``; INT96 chunks get no Statistics at all."""
    import pyarrow.compute as pc

    fields = [tc.f_i64(3, sh.num_entries - len(sh.values))]
    v = sh.values
    if physical == "BOOLEAN" or not len(v):
        return tc.struct(*fields)
    if physical in ("FLOAT", "DOUBLE") and pc.any(pc.is_nan(v)).as_py():
        return tc.struct(*fields)
    mm = pc.min_max(v)
    buf = encode_plain_parquet(pa.array([mm["min"], mm["max"]]), physical)
    if physical == "BYTE_ARRAY":
        n = int.from_bytes(buf[:4], "little")
        mn, mx = buf[4 : 4 + n], buf[8 + n :]
    else:
        mn, mx = buf[: len(buf) // 2], buf[len(buf) // 2 :]
    if max(len(mn), len(mx)) > _MAX_STAT_BYTES:
        return tc.struct(*fields)
    # both the modern (5/6) and deprecated (1/2) field pairs: Arrow C++
    # distrusts 5/6 from writers it cannot version-parse but accepts 1/2
    # (what DuckDB emits); DuckDB reads either.  The deprecated pair
    # implies SIGNED sort order, which is wrong for unsigned logical
    # types — omit it there.
    head = [] if pa.types.is_unsigned_integer(v.type) else [tc.f_binary(1, mx), tc.f_binary(2, mn)]
    return tc.struct(*head, *fields, tc.f_binary(5, mx), tc.f_binary(6, mn))


class ParquetWriter:
    """Streaming writer: open → write_row_group(table)* → close.

    The reference buffers every column whole and flushes once
    (parquet-file.cc:118-177); this writer flushes a row group per call
    so executor memory stays bounded by the row-group size — the shape a
    distributed sink needs.
    """

    def __init__(
        self,
        path: str,
        schema: pa.Schema,
        int96_timestamps: bool = False,
        use_dictionary: bool = True,
        use_delta: bool = True,
        compression: str | None = None,
        page_records: int = 20_000,
        data_page_version: int = 1,
    ):
        if compression not in (None, "none", "gzip"):
            raise ValueError("supported compression: None or 'gzip' (zlib is the only codec lib in this environment)")
        if data_page_version not in (1, 2):
            raise ValueError("data_page_version must be 1 or 2")
        self.data_page_version = data_page_version
        self.path = path
        self.schema = schema
        self.use_dictionary = use_dictionary
        # DELTA_LENGTH_BYTE_ARRAY for non-dictionary string/binary
        # chunks: packed lengths + contiguous payload instead of
        # interleaved u32 prefixes — the wire form of the engine's own
        # internal PLAIN layout (kernels/plain.py)
        self.use_delta = use_delta
        self.gzip = compression == "gzip"
        self.page_records = page_records
        nodes = parquet_schema(schema)
        root = tc.struct(tc.f_binary(4, "schema"), tc.f_i32(5, len(schema)))
        self._elems = [root] + [_schema_element(n, int96_timestamps) for n in nodes]
        # (plan, path_in_schema, physical type written) per leaf
        self._leaves = [(n.leaf, n.path, _leaf_type(n.leaf, int96_timestamps)) for n in nodes if n.leaf is not None]
        self._row_groups: list[bytes] = []
        self._num_rows = 0
        self._f = open(path, "wb")
        self._f.write(MAGIC)
        self._pos = 4

    def write_row_group(self, table: pa.Table) -> None:
        n_rows = table.num_rows
        if n_rows == 0:
            return
        chunks: list[bytes] = []
        total = 0
        for plan, fpath, physical in self._leaves:
            col = table.column(plan.path[0])
            arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
            sh = shred(arr, plan)
            use_int96 = physical == "INT96"
            vt = sh.values.type
            if pa.types.is_timestamp(vt) and not use_int96 and vt.unit == "s":
                # Parquet has no SECONDS TimeUnit; the footer declares
                # MICROS for 's' columns (_leaf_annotation), so the values
                # must be scaled to match — an exact cast.  ms/us/ns are
                # written raw with their own declared unit.
                sh = ShreddedColumn(
                    plan=sh.plan,
                    def_levels=sh.def_levels,
                    rep_levels=sh.rep_levels,
                    values=sh.values.cast(pa.timestamp("us", vt.tz)),
                    num_entries=sh.num_entries,
                )
            # dictionary-encode when the chunk is meaningfully repetitive
            split = None
            if self.use_dictionary and not use_int96 and plan.physical != "BOOLEAN" and len(sh.values):
                split = dictionary_split(sh.values)
                if len(split[0]) > max(1, len(sh.values) // 2):
                    split = None
            dict_offset = None
            chunk_len = 0
            raw_len = 0  # uncompressed bytes (ColumnMetaData field 6)
            if split is not None:
                dictionary, indices, width = split
                dict_page, raw_len = _dictionary_page(dictionary, plan.physical, self.gzip)
                dict_offset = self._pos
                self._f.write(dict_page)
                chunk_len = len(dict_page)
                enc = _ENC_RLE_DICT
                encodings = [_ENC_PLAIN, _ENC_RLE, _ENC_RLE_DICT]
            else:
                enc = self._value_encoding(sh, use_int96)
                encodings = [enc, _ENC_RLE]
            data_offset = self._pos + chunk_len
            framer = _data_page_v2 if self.data_page_version == 2 else _data_page
            for page_sh, v0, v1 in _split_pages(sh, plan, self.page_records):
                if split is not None:
                    vbody = bytes([width]) + encode_hybrid(indices[v0:v1], width)
                else:
                    vbody = _page_values(page_sh, enc, use_int96)
                page, raw = framer(page_sh, vbody, enc, self.gzip)
                self._f.write(page)
                chunk_len += len(page)
                raw_len += raw
            self._pos += chunk_len
            total += chunk_len
            stats = None if use_int96 else _statistics(sh, physical)
            cmd = tc.struct(
                tc.f_i32(1, _PHYS_CODE[physical]),
                tc.f_list(2, tc.T_I32, [tc.zigzag_varint(e) for e in encodings]),
                tc.f_list(3, tc.T_BINARY, [tc.uvarint(len(p.encode())) + p.encode() for p in fpath]),
                tc.f_i32(4, _CODEC_GZIP if self.gzip else _CODEC_UNCOMPRESSED),
                tc.f_i64(5, sh.num_entries),
                tc.f_i64(6, raw_len),  # total_uncompressed_size
                tc.f_i64(7, chunk_len),  # total_compressed_size
                tc.f_i64(9, data_offset),
                tc.f_i64(11, dict_offset) if dict_offset is not None else None,
                tc.f_struct(12, stats) if stats is not None else None,
            )
            chunks.append(
                tc.struct(tc.f_i64(2, dict_offset if dict_offset is not None else data_offset), tc.f_struct(3, cmd))
            )
        rg = tc.struct(
            tc.f_list(1, tc.T_STRUCT, chunks),
            tc.f_i64(2, total),
            tc.f_i64(3, n_rows),
        )
        self._row_groups.append(rg)
        self._num_rows += n_rows

    def _value_encoding(self, sh: ShreddedColumn, use_int96: bool) -> int:
        """Encoding of a non-dictionary chunk's values."""
        physical = sh.plan.physical
        if not self.use_delta or use_int96:
            return _ENC_PLAIN
        if physical == "BYTE_ARRAY":
            return _ENC_DELTA_LENGTH_BA
        vt = sh.values.type
        signed_like = pa.types.is_signed_integer(vt) or pa.types.is_timestamp(vt) or pa.types.is_date32(vt)
        if physical in ("INT32", "INT64") and signed_like and len(sh.values):
            # DELTA_BINARY_PACKED for signed int / temporal chunks when
            # it actually beats PLAIN (spec Encodings.md; unsigned
            # columns stay PLAIN — their raw bit patterns are not signed
            # values).  Decide on a bounded contiguous sample: trial-
            # encoding the whole chunk doubled the encode cost of every
            # delta column (pages re-encode the same values)
            sample = physical_np(sh.values.slice(0, 8192), physical)
            if len(encode_delta_binary_packed(sample)) < 0.9 * sample.nbytes:
                return _ENC_DELTA_BP
        return _ENC_PLAIN

    def close(self) -> dict:
        footer = tc.struct(
            tc.f_i32(1, 1),  # format version
            tc.f_list(2, tc.T_STRUCT, self._elems),
            tc.f_i64(3, self._num_rows),
            tc.f_list(4, tc.T_STRUCT, self._row_groups),
            tc.f_binary(6, CREATED_BY),
        )
        self._f.write(footer)
        self._f.write(len(footer).to_bytes(4, "little"))
        self._f.write(MAGIC)
        self._f.close()
        return {
            "path": self.path,
            "rows": self._num_rows,
            "row_groups": len(self._row_groups),
            "bytes": os.path.getsize(self.path),
        }

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        if not self._f.closed:
            if exc[0] is None:
                self.close()
            else:
                self._f.close()


def bounded_groups(
    batches: Iterable[pa.RecordBatch],
    max_rows: int | None,
    max_bytes: int | None = None,
    keys: tuple[str, ...] = (),
) -> Iterator[tuple[tuple, pa.Table]]:
    """Cut a stream of record batches into ``(key values, table)``
    groups: the one packer behind Parquet row groups (:func:`write_table`,
    the sink), encode chunks and decode groups.

    This is the reference's kMaxDataBytesPerRowGroup packing
    (CalculateNumberOfRowGroups, parquet-file.cc:104-116 +
    parquet-file.h:31 — vestigial there, its Flush never calls it) with
    a row cap:

    * a group holds at most ``max_rows`` rows (None: no cap); a batch is
      sliced at the cap;
    * with ``max_bytes``, a non-empty group closes before a batch that
      would take its Arrow buffer bytes past the target;
    * a group never spans a change in any ``keys`` column (the input
      must be clustered by them); those columns are dropped, and the
      key values are ``()`` without keys.

    Empty batches are skipped, so empty input yields no group.
    """
    if max_rows is not None and max_rows < 1:
        raise ValueError(f"max_rows must be at least 1, got {max_rows}")
    pending: list[pa.RecordBatch] = []
    rows = size = 0
    key: tuple = ()
    for b in batches:
        if b.num_rows == 0:
            continue
        edges = [0, b.num_rows]
        data = b
        if keys:
            change = np.zeros(b.num_rows - 1, dtype=bool)
            for k in keys:
                v = b.column(k).to_numpy(zero_copy_only=False)
                change |= v[1:] != v[:-1]
            edges[1:1] = (np.flatnonzero(change) + 1).tolist()
            data = b.drop_columns(list(keys))
        for start, stop in zip(edges, edges[1:]):
            run_key = tuple(b.column(k)[start].as_py() for k in keys)
            while start < stop:
                take = stop - start if max_rows is None else min(stop - start, max_rows - rows)
                piece = data.slice(start, take)
                if pending and (
                    run_key != key
                    or rows == max_rows
                    or (max_bytes is not None and size + piece.nbytes > max_bytes)
                ):
                    yield key, pa.Table.from_batches(pending)
                    pending, rows, size = [], 0, 0
                    continue
                key = run_key
                pending.append(piece)
                rows += take
                size += piece.nbytes
                start += take
    if pending:
        yield key, pa.Table.from_batches(pending)


def write_table(
    table: pa.Table,
    path: str,
    row_group_rows: int = 1 << 20,
    row_group_bytes: int | None = None,
    int96_timestamps: bool = False,
    compression: str | None = None,
    use_dictionary: bool = True,
    use_delta: bool = True,
    page_records: int = 20_000,
    data_page_version: int = 1,
) -> dict:
    """Write an Arrow table as a real .parquet file (one call, N row groups)."""
    w = ParquetWriter(
        path,
        table.schema,
        int96_timestamps=int96_timestamps,
        compression=compression,
        use_dictionary=use_dictionary,
        use_delta=use_delta,
        page_records=page_records,
        data_page_version=data_page_version,
    )
    # with a byte target, pack in probe-sized batches (1/64 of a group)
    probe = max(256, min(row_group_rows, table.num_rows) // 64) if row_group_bytes is not None else None
    try:
        for _, piece in bounded_groups(table.to_batches(max_chunksize=probe), row_group_rows, row_group_bytes):
            w.write_row_group(piece)
        return w.close()
    except BaseException:
        w._f.close()
        raise
