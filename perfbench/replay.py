"""L0/L1 replay: the chunk-level engine functions timed outside Spark.

On the first 64Ki rows of a workload's input, each column goes through
the same steps an encode task runs (``shred``, ``select_codec``,
``serialize_chunk``, ``chunk_stats``) and the step a decode task runs
(``decode_chunk_to_column``); the whole sample is also written once
with ``parquet_writer.write_table``.  Each step is timed as the median
of a few repetitions, and every decoded column is compared with its
input.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow as pa
import pyarrow.dataset as ds

from cpp_parquet_spark.chunk import decode_chunk_to_column, serialize_chunk
from cpp_parquet_spark.kernels.levels import shred
from cpp_parquet_spark.parquet_writer import write_table
from cpp_parquet_spark.schema_plan import plan_from_schema
from cpp_parquet_spark.selector import select_codec
from cpp_parquet_spark.stats import chunk_stats

SAMPLE_ROWS = 1 << 16


def _timed(fn, reps: int):
    """(median seconds, last result) over ``reps`` calls."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def replay(input_dir: str, scratch_dir: str, reps: int = 3, rows: int = SAMPLE_ROWS) -> dict:
    """Per-layer metrics of the replay, keyed by metric name.  Raises
    ``ValueError`` if a decoded column differs from its input."""
    table = ds.dataset(input_dir, format="parquet").head(rows)
    out: dict[str, float] = {}
    kernel: dict[str, list[float]] = {}  # codec -> [plain bytes, encode s, decode s]
    for plan in plan_from_schema(table.schema):
        col = plan.dotted
        arr = table.column(plan.path[0]).combine_chunks()
        t_shred, sh = _timed(lambda: shred(arr, plan), reps)
        t_select, codec = _timed(lambda: select_codec(sh.values, plan.physical), reps)
        try:
            t_ser, (blob, meta) = _timed(lambda: serialize_chunk(sh, codec), reps)
        except (ValueError, TypeError, pa.lib.ArrowNotImplementedError, pa.lib.ArrowInvalid):
            codec = "plain"  # the encode task's fallback when a codec fails on the chunk
            t_ser, (blob, meta) = _timed(lambda: serialize_chunk(sh, codec), reps)
        t_stats, _ = _timed(lambda: chunk_stats(sh.values), reps)
        t_dec, back = _timed(lambda: decode_chunk_to_column(blob, plan), reps)
        if not back.equals(arr):
            raise ValueError(f"replay: column {col} did not round-trip through {codec}")
        out[f"levels.shred_ms.{col}"] = t_shred * 1e3
        out[f"selector.select_ms.{col}"] = t_select * 1e3
        out[f"chunk.serialize_ms.{col}"] = t_ser * 1e3
        out[f"stats.chunk_stats_ms.{col}"] = t_stats * 1e3
        out[f"chunk.decode_ms.{col}"] = t_dec * 1e3
        acc = kernel.setdefault(codec, [0.0, 0.0, 0.0])
        acc[0] += meta.plain_bytes
        acc[1] += t_ser
        acc[2] += t_dec
    for codec, (plain, t_enc, t_dec) in kernel.items():
        out[f"kernels.{codec}.encode_mb_s"] = plain / 1e6 / max(t_enc, 1e-9)
        out[f"kernels.{codec}.decode_mb_s"] = plain / 1e6 / max(t_dec, 1e-9)
    path = os.path.join(scratch_dir, "replay.parquet")
    t_write, _ = _timed(lambda: write_table(table, path), reps)
    plain_total = sum(acc[0] for acc in kernel.values())
    out["parquet_writer.write_table_mb_s"] = plain_total / 1e6 / max(t_write, 1e-9)
    os.unlink(path)
    return out
