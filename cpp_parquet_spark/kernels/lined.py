"""Line-dictionary codec for source-text columns.

Source code is line-repetitive (imports, braces, boilerplate), so the
best lightweight scheme for a ``content`` column is a dictionary of
*lines* with hybrid-RLE indices — the same dictionary+RLE design the
north rule prescribes, applied at line granularity.

Lines keep their trailing ``\\n`` (split-keeping-separator), which makes
both directions near-zero-copy: encode wraps the original payload
buffer in a lines array built from newline offsets (no split copy —
Arrow's split_pattern would materialize a second payload), and decode
is dictionary.take(indices) whose values buffer IS the rebuilt payload
(no join at all; doc offsets are one reduceat over line lengths).  The
hash pass of dictionary_encode is the only full-payload scan left.

Layout: u32 n_docs | section(FOR(line counts per doc)) | the ``dict``
codec's bytes over the flat lines (incl. their '\\n').  So this codec is
``dict`` over lines: one dictionary path, one byte layout.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from cpp_parquet_spark.kernels.bitpack import put_section, take_section
from cpp_parquet_spark.kernels.dictionary import decode_dict, encode_dict
from cpp_parquet_spark.kernels.forpack import decode_for, encode_for
from cpp_parquet_spark.kernels.plain import _byte_components


def _lines_zero_copy(values: pa.Array) -> tuple[pa.Array, np.ndarray]:
    """(flat lines array over the ORIGINAL payload buffer, per-doc line
    counts).  A line spans up to and including its '\\n'; a doc's final
    line has none; a doc ending in '\\n' gets a trailing empty line
    (split_pattern semantics)."""
    lengths, payload = _byte_components(values)
    n = len(lengths)
    doc_ends = np.cumsum(lengths)
    doc_starts = doc_ends - lengths
    nl = np.flatnonzero(payload == 10).astype(np.int64)
    # one line per doc plus one per newline; starts = doc starts ∪ nl+1.
    # Duplicate offsets (a '\n' at a doc boundary) are fine: they encode
    # the empty final line of the earlier doc.
    starts = np.sort(np.concatenate((doc_starts, nl + 1)), kind="stable")
    offsets = np.concatenate((starts, doc_ends[-1:]))
    lines = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(),
        len(starts),
        [None, pa.py_buffer(offsets.astype(np.int64).tobytes()), pa.py_buffer(payload)],
    )
    doc_of_nl = np.searchsorted(doc_ends, nl, side="right")
    counts = 1 + np.bincount(doc_of_nl, minlength=n).astype(np.int64)
    return lines, counts


def encode_lined(values: pa.Array) -> bytes:
    n = len(values)
    out = bytearray(n.to_bytes(4, "little"))
    if n == 0:
        return bytes(out)
    lines, counts = _lines_zero_copy(values)
    put_section(out, encode_for(counts))
    out += encode_dict(lines, "BYTE_ARRAY")
    return bytes(out)


def decode_lined(buf: bytes, n: int, arrow_type: pa.DataType) -> pa.Array:
    mv = memoryview(buf)
    n_docs = int.from_bytes(mv[0:4], "little")
    assert n_docs == n
    if n == 0:
        return pa.array([], type=arrow_type)
    counts_blob, pos = take_section(mv, 4)
    counts = decode_for(counts_blob, n)
    total_lines = int(counts.sum())
    # lines carry their separators, so the dictionary's take() already
    # materializes the payload verbatim — its values buffer IS the
    # decoded bytes; only the per-doc offsets need computing (one
    # reduceat; every doc has at least one line)
    flat = decode_dict(mv[pos:], total_lines, "BYTE_ARRAY", pa.large_binary())
    bufs = flat.buffers()
    loff = np.frombuffer(bufs[1], dtype=np.int64)[flat.offset : flat.offset + total_lines + 1]
    line_lens = loff[1:] - loff[:-1]
    line_starts_per_doc = np.concatenate(([0], np.cumsum(counts)))[:-1].astype(np.int64)
    doc_lens = np.add.reduceat(line_lens, line_starts_per_doc)
    doc_offsets = np.concatenate(([0], np.cumsum(doc_lens))).astype(np.int64) + int(loff[0])
    payload_buf = bufs[2] if bufs[2] is not None else pa.py_buffer(b"")
    out = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(),
        n,
        [None, pa.py_buffer(doc_offsets.tobytes()), payload_buf],
    )
    return out.cast(arrow_type)
