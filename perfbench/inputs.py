"""Seeded input tables for the benchmark workloads.

Both tables are built driver-side with numpy from ``--seed`` alone: the
same seed gives the same rows, another seed gives other rows.  The
engine's own ``datagen.synthetic_source_repos`` has no seed, so the
benchmark keeps its own generator (same shapes, same vocabulary); the
engine only ever sees the Parquet files written here.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cpp_parquet_spark.datagen import _EXT, _TEMPLATE, _VOCAB, LANGS


def repo_table(rows: int, seed: int) -> pa.Table:
    """String-only source-repo table: one single-language repo owns ~40%
    of the rows (Zipf-like head), the rest spread over 199 repos and 12
    skewed languages; slash paths over a 200-word vocabulary, hex
    commits, and per-language repetitive content of roughly 90 B to 6 KB.

    ``encode_pipeline`` salts a (lang, repo) key when its skew sample
    (0.1% of the rows) puts the key over 1/(2k) of the bytes.  The head
    repo is one key with ~40% of the bytes, so the sample finds it
    skewed for every seed; at 30% it was missed for one seed in 30."""
    rng = np.random.default_rng([seed, 1])
    repo_idx = np.where(rng.random(rows) < 0.40, 0, rng.integers(1, 200, rows))
    repo_names = np.array([f"org{i % 20}/repo{i}" for i in range(200)], dtype=object)
    weights = np.array([w for _, w in LANGS], dtype=float)
    lang_idx = np.where(repo_idx == 0, 0, rng.choice(len(LANGS), rows, p=weights / weights.sum()))
    langs = [name for name, _ in LANGS]
    depth = rng.integers(1, 9, rows)
    segs = rng.integers(0, 200, (rows, 8))
    files = rng.integers(0, 1000, rows)
    reps = rng.integers(1, 41, rows)
    path, commit, content = [], [], []
    for i in range(rows):
        lang = langs[lang_idx[i]]
        path.append(
            "/".join(_VOCAB[s] for s in segs[i, : depth[i]]) + f"/file{files[i]}.{_EXT[lang]}"
        )
        commit.append(hashlib.sha1(f"commit:{seed}:{i}".encode()).hexdigest())
        content.append(f"// {i}\n" + _TEMPLATE[lang] * int(reps[i]))
    return pa.table({
        "repo": pa.array(repo_names[repo_idx], pa.string()),
        "path": pa.array(path, pa.string()),
        "commit": pa.array(commit, pa.string()),
        "lang": pa.array(np.array(langs, dtype=object)[lang_idx], pa.string()),
        "content": pa.array(content, pa.string()),
    })


def lineitem_table(rows: int, seed: int) -> pa.Table:
    """Narrow lineitem-shaped table: ~4 lines per order under a sorted
    integer order key, random part keys, ship dates that follow the
    order key, a decimal price and two low-cardinality flag columns."""
    rng = np.random.default_rng([seed, 2])
    ids = np.arange(rows, dtype=np.int64)
    orderkey = (ids * 8 + rng.integers(0, 8, rows)) // 32 + 1
    days = orderkey * 2400 // (rows // 4 + 1) + rng.integers(0, 121, rows)
    shipdate = np.datetime64("1992-01-02") + days.astype("timedelta64[D]")
    partkey = rng.integers(1, 200_001, rows)
    cents = rng.integers(1, 51, rows) * (90_000 + partkey % 20_001)
    late = shipdate > np.datetime64("1995-06-17")
    returnflag = np.where(late, "N", np.where(rng.random(rows) < 0.5, "R", "A"))
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_shipdate": pa.array(shipdate.astype("datetime64[D]"), pa.date32()),
        "l_extendedprice": _decimal_cents(cents),
        "l_returnflag": pa.array(returnflag, pa.string()),
        "l_linestatus": pa.array(np.where(late, "O", "F"), pa.string()),
    })


def _decimal_cents(cents: np.ndarray) -> pa.Array:
    """decimal(12,2) array from non-negative integer cents: decimal128
    stores the unscaled value as a little-endian 128-bit integer."""
    unscaled = np.zeros((len(cents), 2), dtype=np.int64)
    unscaled[:, 0] = cents
    return pa.Array.from_buffers(pa.decimal128(12, 2), len(cents), [None, pa.py_buffer(unscaled.tobytes())])


def write_parts(table: pa.Table, directory: str, parts: int) -> None:
    """Write ``table`` as ``parts`` Parquet files, so Spark reads it
    with one task per file."""
    os.makedirs(directory, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(directory, f"part-{i:05d}.parquet"))


def checksum(df: DataFrame, columns: list[str]) -> tuple[int, int]:
    """Order-insensitive checksum of ``df`` computed JVM-side: row count
    plus the sum of ``xxhash64`` over all columns, summed as decimal so
    the total never overflows."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*[F.col(c) for c in columns]).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)
