"""Statistics-driven codec auto-selector.

North-rule component (BASELINE.json north_star; cf. PAPERS.md:8,
"Adaptive Compression for Fast Scans on String Columns"): per column
chunk, sample cardinality / run structure / byte entropy via Arrow
compute + numpy, shortlist candidate codecs by rule, then encode a
deterministic sample with each shortlisted codec and keep the smallest.

The reference has no equivalent — its only "choice" is the RLE
encoder's internal repeated-vs-literal decision (rle-encoding.h:269-298);
this module lifts that adaptivity to whole-column granularity.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from cpp_parquet_spark.kernels.plain import int_view, plain_size
from cpp_parquet_spark.kernels.rle_runs import run_count

_SAMPLE_ROWS = 2048

# What a codec must beat PLAIN by, as a fraction of PLAIN's size, both
# to be selected and to be kept when a chunk carries it over from a
# hint or the per-task memo: a ~5% win (e.g. fsst's bit-packed lengths
# vs PLAIN's u32 prefixes on random data) doesn't pay for the costlier
# codecs' encode/decode time.  Codecs not listed need only tie PLAIN.
MARGIN = {"fsst": 0.85, "lined": 0.9, "dict": 0.95, "rle": 0.95, "for": 0.98, "alpha": 0.95}

# What an encoder raises when a codec does not fit the data (e.g. an
# alphabet overflow on a chunk whose sample fit).
CODEC_ERRORS = (ValueError, TypeError, pa.lib.ArrowNotImplementedError, pa.lib.ArrowInvalid)


@dataclass
class ColumnStats:
    n: int
    cardinality: int
    runs: int
    avg_len: float  # BYTE_ARRAY only; 0 otherwise
    byte_entropy: float  # BYTE_ARRAY only (bits/byte on sample); 0 otherwise
    int_range_bits: int | None  # width of (max-min) over the scaled-integer
    # view (kernels/plain.int_view); None where the column has none
    avg_newlines: float = 0.0  # BYTE_ARRAY only; newlines per value
    sorted_prefix: bool = False  # view only; contiguous prefix monotone
    distinct_bytes: int = 256  # BYTE_ARRAY only; alphabet size on sample


def _sample(values: pa.Array) -> pa.Array:
    n = len(values)
    if n <= _SAMPLE_ROWS:
        return values
    step = n // _SAMPLE_ROWS
    idx = np.arange(0, step * _SAMPLE_ROWS, step, dtype=np.int64)
    return values.take(pa.array(idx))


def column_stats(values: pa.Array, physical: str) -> ColumnStats:
    n = len(values)
    if n == 0:
        return ColumnStats(0, 0, 0, 0.0, 0.0, None)
    sample = _sample(values)
    card = pc.count_distinct(sample).as_py()
    # runs must be measured on a *contiguous* slice — a strided sample
    # destroys run structure
    runs = run_count(values.slice(0, min(n, _SAMPLE_ROWS)))
    avg_len = entropy = avg_nl = 0.0
    range_bits = None
    distinct_bytes = 256
    if physical == "BYTE_ARRAY":
        lens = pc.binary_length(sample)
        avg_len = float(pc.mean(lens).as_py() or 0.0)
        bin_sample = sample.cast(pa.large_binary())
        buf = bin_sample.buffers()[2]
        if buf is not None and len(buf) > 0:
            raw = np.frombuffer(buf, dtype=np.uint8)[: 1 << 16]
            hist = np.bincount(raw, minlength=256).astype(np.float64)
            p = hist[hist > 0] / len(raw)
            entropy = float(-(p * np.log2(p)).sum())
            avg_nl = float(hist[10] / len(raw) * avg_len)
            distinct_bytes = int((hist > 0).sum())
        return ColumnStats(n, card, runs, avg_len, entropy, None, avg_nl, False, distinct_bytes)
    sorted_prefix = False
    try:
        _, t = int_view(sample, physical)
        _, pv = int_view(values.slice(0, min(n, _SAMPLE_ROWS)), physical)
    except ValueError:
        pass
    else:
        range_bits = (int(t.max()) - int(t.min())).bit_length()
        sorted_prefix = bool(len(pv) > 2 and (np.diff(pv) >= 0).all())
    return ColumnStats(n, card, runs, avg_len, entropy, range_bits, avg_nl, sorted_prefix)


def shortlist(stats: ColumnStats, physical: str) -> list[str]:
    """Rule-based candidate codecs, cheapest-to-try first.  ``for`` and
    ``delta`` (the latter on a sorted prefix) go to every column with a
    scaled-integer view: integers, dates and timestamps, DOUBLE chunks
    that are decimal at some 10^e, and decimal128 with precision <= 18
    (FIXED_LEN_BYTE_ARRAY)."""
    if stats.n == 0:
        return ["plain"]
    s = stats
    sample_n = min(s.n, _SAMPLE_ROWS)
    cands: list[str] = []
    runny = s.runs <= max(1, sample_n // 8)
    low_card = s.cardinality <= max(1, sample_n // 4)
    if physical == "BYTE_ARRAY":
        if runny:
            cands.append("rle")
        if low_card:
            cands.append("dict")
        # tiny alphabet (hex hashes): near-entropy bit packing at
        # memory speed; the full-chunk alphabet is re-checked at encode
        if s.distinct_bytes <= 16 and not low_card:
            cands.append("alpha")
        # multi-line text: line-dictionary is both the fastest and the
        # strongest codec when lines repeat (source code)
        if s.avg_newlines >= 2 and not low_card:
            cands.append("lined")
        # redundancy worth FSST: mid/low entropy, not already dict-able.
        # FSST is a *short-string* codec (paths, identifiers, code-ish
        # rows): its encode replays merge rounds over every token,
        # O(rounds × payload) with heavy constants — ~12 MB/s/core
        # clean-window measured in r5 (sentinel-aligned blocked replay,
        # perf-gated by test_fsst_encode_throughput_gate; the numpy op
        # floor on this box, ~0.3 G elem/s cumsum, rules out going much
        # higher).  So cap the estimated chunk payload — on a 154 MB
        # document chunk the r1 code crawled at ~1 MB/s (163 s) while
        # lined does >100 MB/s at a similar ratio (r2 fix).  Within the
        # cap the worst case is ~3 s per chunk, which the ratio win
        # pays for.
        payload_est = s.n * s.avg_len
        if 8 <= s.avg_len <= 4096 and payload_est <= 32e6 and not low_card and s.byte_entropy < 7.0:
            cands.append("fsst")
        cands.append("plain")
    elif physical in ("INT32", "INT64", "DOUBLE", "FIXED_LEN_BYTE_ARRAY"):
        if runny:
            cands.append("rle")
        if low_card:
            cands.append("dict")
        if s.int_range_bits is not None:
            if s.sorted_prefix:
                cands.append("delta")
            type_bits = {"INT32": 32, "FIXED_LEN_BYTE_ARRAY": 128}.get(physical, 64)
            if s.int_range_bits < type_bits - 8:
                cands.append("for")
        cands.append("plain")
    elif physical == "BOOLEAN":
        if runny:
            cands.append("rle")
        cands.append("boolpack")  # 8x vs the byte-per-value baseline, always
        cands.append("plain")
    else:  # FLOAT
        if runny:
            cands.append("rle")
        if low_card:
            cands.append("dict")
        cands.append("plain")
    return cands


def select_codec(values: pa.Array, physical: str) -> str:
    """Pick the codec for one column chunk: rule shortlist, then
    trial-encode a sample and keep the smallest output that clears its
    :data:`MARGIN` over PLAIN (deterministic)."""
    stats = column_stats(values, physical)
    cands = shortlist(stats, physical)
    if len(cands) == 1:
        return cands[0]
    from cpp_parquet_spark.chunk import _encode_values

    # Trial-encode contiguous runs so run-based codecs compete fairly,
    # but take TWO slices (head + middle): a chunk can be heterogeneous
    # (e.g. short synthetic rows followed by long documents) and a
    # head-only sample picks the wrong codec for the bulk of the bytes.
    # Cap the trial payload at ~2 MB so long-value columns don't make
    # selection itself expensive.
    n = len(values)
    n_trial = min(_SAMPLE_ROWS, max(256, int(2_000_000 / max(stats.avg_len, 1.0))))
    if n > 2 * n_trial:
        half = n_trial // 2
        parts = [values.slice(0, half), values.slice(n // 2, half)]
    else:
        parts = [values.slice(0, min(n, n_trial))]
    sample = pa.concat_arrays(parts) if len(parts) > 1 else parts[0]
    base = plain_size(sample, physical)
    best, best_size = "plain", base
    for c in cands:
        if c == "plain":
            continue
        if c == "fsst" and best_size < base * 0.55:
            continue  # a cheap codec already halved the data; skip the
            # expensive fsst trial — it rarely beats a 2x-winning lined/dict
        try:
            if c == "delta":
                # the jump across the seam of the two slices is no
                # difference of the chunk, and one outlier widens every
                # packed difference: trial each slice on its own
                sz = sum(len(_encode_values(p, c, physical)) for p in parts)
            else:
                sz = len(_encode_values(sample, c, physical))
        except CODEC_ERRORS:
            continue
        if sz < best_size and sz < base * MARGIN.get(c, 1.0):
            best, best_size = c, sz
    return best
