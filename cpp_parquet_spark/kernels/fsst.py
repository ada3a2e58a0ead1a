"""FSST-style symbol-table string compression — fully vectorized.

North-rule codec for ``path``/``content`` payloads, after "FSST: Fast
Random Access String Compression" (PAPERS.md:9, VLDB 2020): a table of
at most 255 symbols of 1-8 bytes each, one output code per symbol, and
an escape code (255) for bytes outside the table, giving random-access
per-string decompression.

The classic FSST encoder is a sequential longest-match loop — hostile
to numpy.  This implementation reaches the same format family through
round-based pair merging (Re-Pair/BPE style): training picks the most
frequent adjacent token pairs per round (bounded to 8-byte symbols) on
a sample, and encoding replays the same merge rounds over the whole
chunk with vectorized simultaneous replacement.  Overlapping matches
are resolved exactly as a greedy left-to-right scan would by a parity
rule inside maximal chains of consecutive matches (valid[i] = match[i]
& ~valid[i-1] collapses to "even offset within chain"), computed only
over the match positions.

Memory discipline matters on this box (first-touch page faults are
expensive): tokens are int16, all position arithmetic is int32, the
sentinel between strings is token 511 so pair keys need no masking
(sentinel pairs can never equal a chosen key — chosen pairs only
contain tokens <= 510), and the merged-symbol budget adapts so every
byte value seen in the sample keeps a single-byte code (escapes are
the ratio killer).

Chunk layout:
  u8 n_codes | u8 sym_len[n_codes] | symbol blob |
  section(code stream; escape = 0xFF + raw byte) |
  u32 n_strings | section(FOR of per-string stream bytes)
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from cpp_parquet_spark.kernels.bitpack import put_section, take_section
from cpp_parquet_spark.kernels.forpack import decode_for, encode_for
from cpp_parquet_spark.kernels.plain import _byte_components

_ESCAPE = 255
_MAX_CODES = 255
_MAX_SYMBOL_LEN = 8
_ROUNDS = 8
_SAMPLE_TOKENS = 1 << 17
_KEY_BASE = 512
_SENTINEL = 511  # separates strings; never part of any chosen pair


def _tokens_from_values(values: pa.Array) -> tuple[np.ndarray, int, np.ndarray]:
    """Byte tokens with sentinel 511 between strings; returns
    (toks, n, string start positions in token coordinates)."""
    lengths, payload = _byte_components(values)
    n = len(lengths)
    data_len = int(lengths.sum())
    total = data_len + max(n - 1, 0)
    if total >= 1 << 31:
        # position arithmetic below is int32; a >=2 GiB chunk payload
        # would wrap silently — refuse so the engine falls back to plain
        raise ValueError("fsst chunk payload exceeds int32 positions")
    toks = np.full(total, _SENTINEL, dtype=np.int16)
    if data_len:
        lengths32 = lengths.astype(np.int32)
        cum = np.cumsum(lengths32, dtype=np.int32) - lengths32
        starts = cum + np.arange(n, dtype=np.int32)
        tgt = np.repeat(starts, lengths32) + (
            np.arange(data_len, dtype=np.int32) - np.repeat(cum, lengths32)
        )
        toks[tgt] = payload.astype(np.int16)
    else:
        starts = np.arange(n, dtype=np.int32)
    return toks, n, starts


def _sample_tokens(toks: np.ndarray, target: int = _SAMPLE_TOKENS) -> np.ndarray:
    """Representative training sample: 64 strided blocks across the
    chunk (a prefix sample trains symbols for the head only and the
    rest of the chunk escapes — ratio collapse on mixed chunks)."""
    if len(toks) <= target:
        return toks.copy()
    nblocks = 64
    block = target // nblocks
    step = (len(toks) - block) // nblocks
    idx = (np.arange(nblocks, dtype=np.int64)[:, None] * step + np.arange(block, dtype=np.int64)).ravel()
    return toks[idx]


def _pair_lut(keys: np.ndarray, new_ids: np.ndarray) -> np.ndarray:
    """Dense pair-key → new-token lookup table (512*512 int16, fits L2)."""
    lut = np.full(_KEY_BASE * _KEY_BASE, -1, dtype=np.int16)
    lut[keys] = new_ids.astype(np.int16)
    return lut


def _replace_pairs(toks: np.ndarray, lut: np.ndarray) -> np.ndarray:
    """Simultaneously replace every greedy-left-to-right occurrence of
    the LUT's pairs (key = left*512 + right) with their new token."""
    if len(toks) < 2:
        return toks
    key = np.multiply(toks[:-1], _KEY_BASE, dtype=np.int32)
    key += toks[1:]
    hit = lut[key]
    mpos = np.flatnonzero(hit >= 0).astype(np.int32)
    if not len(mpos):
        return toks
    # greedy overlap resolution on match positions only: within each
    # chain of consecutive positions, keep even offsets
    k = len(mpos)
    ridx = np.arange(k, dtype=np.int32)
    chain_start = np.empty(k, dtype=bool)
    chain_start[0] = True
    np.greater(mpos[1:] - mpos[:-1], 1, out=chain_start[1:])
    last_start = np.maximum.accumulate(np.where(chain_start, ridx, 0))
    valid = ((ridx - last_start) & 1) == 0
    vpos = mpos[valid]
    toks[vpos] = hit[vpos]
    keep = np.ones(len(toks), dtype=bool)
    keep[vpos + 1] = False
    return toks[keep]


def _train(sample: np.ndarray) -> tuple[list[tuple[np.ndarray, np.ndarray]], list[bytes]]:
    """Learn merge rounds on a token sample.

    Returns (rounds, symbols): symbols[i] is the byte expansion of
    token 256+i; each round is (sorted pair keys, new token ids).
    The merged budget leaves a code for every byte value in the sample.
    """
    sym_bytes: list[bytes] = [bytes([i]) for i in range(256)]
    sym_len = np.ones(_KEY_BASE, dtype=np.int32)
    rounds: list[tuple[np.ndarray, np.ndarray]] = []
    toks = sample
    n_distinct = int(np.unique(toks[toks < 256]).size) if len(toks) else 0
    budget = min(_MAX_CODES - n_distinct, 254)  # merged ids 256..510
    n_merged = 0
    min_count = max(4, len(sample) // 16384)
    per_round = max(16, -(-budget // 4))
    for _ in range(_ROUNDS):
        if n_merged >= budget or len(toks) < 2:
            break
        key = np.multiply(toks[:-1], _KEY_BASE, dtype=np.int32)
        key += toks[1:]
        uniq, counts = np.unique(key, return_counts=True)
        ok = (uniq // _KEY_BASE != _SENTINEL) & (uniq % _KEY_BASE != _SENTINEL)
        ok &= (sym_len[uniq // _KEY_BASE] + sym_len[uniq % _KEY_BASE]) <= _MAX_SYMBOL_LEN
        ok &= counts >= min_count
        uniq, counts = uniq[ok], counts[ok]
        if len(uniq) == 0:
            break
        # rank by bytes saved: each occurrence saves one token's worth;
        # weight by expanded length to prefer long symbols
        gain = counts * (sym_len[uniq // _KEY_BASE] + sym_len[uniq % _KEY_BASE] - 1)
        take = np.argsort(-gain, kind="stable")[: min(per_round, budget - n_merged)]
        chosen = np.sort(uniq[take])
        ids = np.arange(len(chosen), dtype=np.int32) + 256 + n_merged
        for kk, tid in zip(chosen.tolist(), ids.tolist()):
            sym = sym_bytes[kk // _KEY_BASE] + sym_bytes[kk % _KEY_BASE]
            sym_bytes.append(sym)
            sym_len[tid] = len(sym)
        before = len(toks)
        toks = _replace_pairs(toks, _pair_lut(chosen, ids))
        # record the round's sample shrinkage so encode can skip
        # replaying rounds the sample already shows to be stagnant —
        # cheaper than paying a full-stream pass to discover it
        rounds.append((chosen, ids, (before - len(toks)) / max(before, 1)))
        n_merged += len(chosen)
    return rounds, sym_bytes[256:]


_REPLAY_BLOCK = 1 << 16


def _replay_blocked(
    toks: np.ndarray, starts: np.ndarray, luts: list[np.ndarray]
) -> np.ndarray:
    """Replay all merge rounds block-by-block instead of round-by-round.

    Pairs never span the inter-string sentinel (sentinel pairs are
    never chosen, and greedy chains cannot cross a non-match), so any
    cut adjacent to a sentinel keeps every block independent — blocks
    are whole strings, boundaries at string starts.  Running ALL rounds
    on one cache-resident ~64K-token block before moving on halves the
    memory traffic versus streaming the full 10s-of-MB token array
    through each round (measured 2x on the 30 MB content sample).
    Block-splitting alone is bit-identical to the round-by-round
    replay; the stagnation guard below intentionally trades that
    bit-identity for throughput after its warm-up window (later blocks
    may run fewer rounds — the stream stays valid and decodable).

    Stagnation guard (the full-stream twin of the sample-shrink skip in
    encode_fsst): per-round shrink is accumulated over the first ~1M
    tokens, and rounds shrinking <0.5% there are dropped for all
    remaining blocks — distribution drift between the training sample
    and the stream costs at most one warm-up window.
    """
    total = len(toks)
    if total <= _REPLAY_BLOCK or len(starts) < 2:
        blk = toks
        for lut in luts:
            blk = _replace_pairs(blk, lut)
        return blk
    targets = np.arange(_REPLAY_BLOCK, total, _REPLAY_BLOCK, dtype=np.int64)
    si = np.unique(np.searchsorted(starts, targets, side="left"))
    cuts = starts[si[si < len(starts)]].astype(np.int64)
    cuts = cuts[(cuts > 0) & (cuts < total)]
    bounds = np.concatenate(([0], cuts, [total]))
    out = np.empty(total, dtype=np.int16)
    live = list(range(len(luts)))
    shrink = np.zeros(len(luts), dtype=np.int64)
    seen = 0
    w = 0
    for a, b in zip(bounds[:-1], bounds[1:]):
        blk = toks[a:b]
        for r in live:
            before = len(blk)
            blk = _replace_pairs(blk if blk.base is None else blk.copy(), luts[r])
            shrink[r] += before - len(blk)
        if seen < (1 << 20):
            seen += b - a
            if seen >= (1 << 20):
                live = [r for r in live if shrink[r] >= (seen // 200)]
        out[w : w + len(blk)] = blk
        w += len(blk)
    return out[:w]


def encode_fsst(values: pa.Array) -> bytes:
    toks, n, starts = _tokens_from_values(values)
    rounds, merged_syms = _train(_sample_tokens(toks))
    luts = []
    for keys, ids, sample_shrink in rounds:
        if sample_shrink < 0.005:
            # the training sample already shows this round saves <0.5%:
            # skip the replay entirely (its symbols just go unused in
            # the stream); later rounds cascade on earlier merges, so
            # stop rather than cherry-pick
            break
        luts.append(_pair_lut(keys, ids))
    toks = _replay_blocked(toks, starts, luts)

    n_merged = len(merged_syms)
    # codes: merged symbols first, then the most frequent remaining base
    # bytes; anything else escapes
    base_hist = np.bincount(toks[toks < 256], minlength=256)
    n_single = min(_MAX_CODES - n_merged, int((base_hist > 0).sum()))
    singles = np.argsort(-base_hist, kind="stable")[:n_single]
    singles = singles[base_hist[singles] > 0]
    tok2code = np.full(_KEY_BASE, _ESCAPE, dtype=np.uint8)
    tok2code[256 : 256 + n_merged] = np.arange(n_merged, dtype=np.uint8)
    tok2code[singles] = np.arange(n_merged, n_merged + len(singles), dtype=np.uint8)
    table: list[bytes] = list(merged_syms) + [bytes([int(b)]) for b in singles]

    live = toks != _SENTINEL
    tok_live = toks[live].astype(np.int32)
    code = tok2code[tok_live]
    esc = code == _ESCAPE
    out_len = np.ones(len(code), dtype=np.int32)
    out_len += esc
    pos = np.cumsum(out_len, dtype=np.int32)
    pos -= out_len
    stream = np.empty(int(pos[-1]) + int(out_len[-1]) if len(pos) else 0, dtype=np.uint8)
    stream[pos] = code
    if esc.any():
        stream[pos[esc] + 1] = tok_live[esc].astype(np.uint8)

    # per-string stream-byte lengths (sentinels emit nothing)
    if n:
        sid = np.cumsum(toks == _SENTINEL, dtype=np.int32)[live]
        str_lens = np.bincount(sid, weights=out_len, minlength=n).astype(np.int64)[:n]
    else:
        str_lens = np.zeros(0, np.int64)

    out = bytearray()
    out.append(len(table))
    out += np.array([len(s) for s in table], dtype=np.uint8).tobytes()
    out += b"".join(table)
    put_section(out, stream.tobytes())
    out += n.to_bytes(4, "little")
    put_section(out, encode_for(str_lens) if n else b"")
    return bytes(out)


def decode_fsst(buf: bytes, n: int, arrow_type: pa.DataType) -> pa.Array:
    mv = memoryview(buf)
    n_codes = mv[0]
    lens = np.frombuffer(mv[1 : 1 + n_codes], dtype=np.uint8).astype(np.int32)
    pos = 1 + n_codes
    blob_len = int(lens.sum())
    blob = np.frombuffer(mv[pos : pos + blob_len], dtype=np.uint8)
    pos += blob_len
    stream_bytes, pos = take_section(mv, pos)
    stream = np.frombuffer(stream_bytes, dtype=np.uint8)
    n_strings = int.from_bytes(mv[pos : pos + 4], "little")
    len_blob, _ = take_section(mv, pos + 4)
    str_lens = decode_for(len_blob, n_strings) if n_strings else np.zeros(0, np.int64)
    assert n_strings == n, f"fsst chunk has {n_strings} strings, expected {n}"

    m = len(stream)
    if m:
        is_esc_byte = stream == _ESCAPE
        # markers: greedy chain rule over runs of consecutive 0xFF bytes
        epos = np.flatnonzero(is_esc_byte).astype(np.int32)
        if len(epos):
            k = len(epos)
            ridx = np.arange(k, dtype=np.int32)
            chain_start = np.empty(k, dtype=bool)
            chain_start[0] = True
            np.greater(epos[1:] - epos[:-1], 1, out=chain_start[1:])
            last_start = np.maximum.accumulate(np.where(chain_start, ridx, 0))
            marker_sel = ((ridx - last_start) & 1) == 0
            marker_pos = epos[marker_sel]
        else:
            marker_pos = epos
        payload_mask = np.zeros(m, dtype=bool)
        payload_mask[marker_pos + 1 if len(marker_pos) else marker_pos] = True
        tok_pos = np.flatnonzero(~payload_mask).astype(np.int32)
        marker = np.zeros(m, dtype=bool)
        marker[marker_pos] = True
    else:
        tok_pos = np.zeros(0, dtype=np.int32)
        marker = np.zeros(0, dtype=bool)

    codes = stream[tok_pos].astype(np.int32)
    is_esc = marker[tok_pos]
    np.minimum(codes, max(n_codes - 1, 0), out=codes)  # safe index for escapes
    sym_start = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    out_len = np.where(is_esc, np.int32(1), lens[codes] if n_codes else np.int32(1)).astype(np.int32)
    total = int(out_len.sum())
    cum = np.cumsum(out_len, dtype=np.int32) - out_len
    out_bytes = np.empty(total, dtype=np.uint8)
    # non-escape tokens: gather from the symbol blob
    ne = ~is_esc
    if ne.any():
        ne_len = out_len[ne]
        ne_start = sym_start[codes[ne]]
        ne_cum = cum[ne]
        tot_ne = int(ne_len.sum())
        within = np.arange(tot_ne, dtype=np.int32) - np.repeat(np.cumsum(ne_len, dtype=np.int32) - ne_len, ne_len)
        out_bytes[np.repeat(ne_cum, ne_len) + within] = blob[np.repeat(ne_start, ne_len) + within]
    if is_esc.any():
        out_bytes[cum[is_esc]] = stream[tok_pos[is_esc] + 1]

    # split by string: token positions -> string ids via stream offsets
    str_lens32 = str_lens.astype(np.int64)
    str_starts = np.cumsum(str_lens32) - str_lens32
    sid = np.searchsorted(str_starts, tok_pos, side="right") - 1 if m else np.zeros(0, np.int64)
    per_str = np.bincount(sid, weights=out_len, minlength=n).astype(np.int64) if len(sid) else np.zeros(n, np.int64)
    offsets = np.concatenate(([0], np.cumsum(per_str))).astype(np.int64)
    arr = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(),
        n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(out_bytes.tobytes())],
    )
    return arr.cast(arrow_type)
