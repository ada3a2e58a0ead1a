"""Plain value-level run-length encoding (any physical type).

North-rule codec for low-cardinality, runny columns (``lang``/``repo``
after the engine's repartition-by-(repo, lang), which makes these
columns locally constant).  Run values are stored PLAIN; run lengths
are frame-of-reference bit-packed.

Layout: u32 n_runs | section(FOR of run lengths) | PLAIN run values.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from cpp_parquet_spark.kernels.bitpack import put_section, take_section
from cpp_parquet_spark.kernels.forpack import decode_for, encode_for
from cpp_parquet_spark.kernels.plain import decode_plain, encode_plain


def _run_starts(values: pa.Array) -> np.ndarray:
    n = len(values)
    if n <= 1:
        return np.arange(n, dtype=np.int64)
    neq = pc.not_equal(values.slice(1), values.slice(0, n - 1))
    # nulls can't occur (shredded values are non-null)
    mask = np.concatenate(([True], np.asarray(neq.fill_null(True))))
    return np.flatnonzero(mask).astype(np.int64)


def encode_rle_runs(values: pa.Array, physical: str) -> bytes:
    n = len(values)
    starts = _run_starts(values)
    n_runs = len(starts)
    lens = np.diff(np.concatenate((starts, [n]))).astype(np.int64)
    run_values = values.take(pa.array(starts)) if n else values
    out = bytearray(n_runs.to_bytes(4, "little"))
    put_section(out, encode_for(lens) if n else b"")
    out += encode_plain(run_values, physical)
    return bytes(out)


def decode_rle_runs(buf: bytes, n: int, physical: str, arrow_type: pa.DataType) -> pa.Array:
    mv = memoryview(buf)
    n_runs = int.from_bytes(mv[0:4], "little")
    if n_runs == 0:
        return pa.array([], type=arrow_type)
    len_blob, pos = take_section(mv, 4)
    lens = decode_for(len_blob, n_runs)
    run_values = decode_plain(bytes(mv[pos:]), n_runs, physical, arrow_type)
    idx = np.repeat(np.arange(n_runs, dtype=np.int64), lens)
    return run_values.take(pa.array(idx))


def run_count(values: pa.Array) -> int:
    return len(_run_starts(values))
