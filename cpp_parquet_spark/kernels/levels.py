"""Dremel record shredding: Arrow arrays ↔ (def levels, rep levels, values).

Reimplements the reference's level machinery — AddRecords def levels
(parquet-column.cc:178), AddRepeatedData's first-element repetition rule
(parquet-column.cc:190-212: the first element of an array carries the
parent's repetition level, the rest carry max_rep), AddNulls
(parquet-column.cc:214-235) — as vectorized numpy over Arrow buffers:
definition levels come from validity bitmaps, repetition levels from
list offsets.  No per-value loop anywhere.

``shred`` turns one (possibly nested) column into per-leaf level streams
plus a flat non-null value array; ``unshred`` is the exact inverse, used
by the decode path and by round-trip tests (shred∘unshred == identity is
this module's correctness oracle, standing in for the reference's
parquet-dump golden files, parquet-file-test.cc:37-50).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from cpp_parquet_spark.kernels.bitpack import bit_width_for, put_section
from cpp_parquet_spark.kernels.rle import encode_hybrid
from cpp_parquet_spark.schema_plan import ColumnPlan


@dataclass
class ShreddedColumn:
    plan: ColumnPlan
    def_levels: np.ndarray | None  # uint8, len = num_entries; None if max_def == 0
    rep_levels: np.ndarray | None  # uint8, len = num_entries; None if max_rep == 0
    values: pa.Array  # flat, non-null leaf values in entry order
    num_entries: int


def encode_levels(sh: ShreddedColumn) -> tuple[bytes, bytes]:
    """(rep, def) level streams, hybrid RLE at the bit width of each
    maximum (EncodeLevels, parquet-column.cc:307-335); b"" for a stream
    the column does not have."""
    plan = sh.plan
    rep = encode_hybrid(sh.rep_levels, bit_width_for(plan.max_rep)) if plan.max_rep > 0 else b""
    dfn = encode_hybrid(sh.def_levels, bit_width_for(plan.max_def)) if plan.max_def > 0 else b""
    return rep, dfn


def framed_levels(sh: ShreddedColumn) -> bytes:
    """[u32 length + rep][u32 length + def], each only if the column has
    that stream (Flush framing, parquet-column.cc:341-365, 436-443)."""
    out = bytearray()
    for stream, has in zip(encode_levels(sh), (sh.plan.max_rep > 0, sh.plan.max_def > 0)):
        if has:
            put_section(out, stream)
    return bytes(out)


def _validity(arr: pa.Array) -> np.ndarray:
    if arr.null_count == 0:
        return np.ones(len(arr), dtype=bool)
    return np.asarray(arr.is_valid())


def shred(column: pa.Array, plan: ColumnPlan) -> ShreddedColumn:
    """Shred one top-level column array into level streams + values."""
    n = len(column)
    idx = np.arange(n, dtype=np.int64)  # index of each entry into `arr`; -1 = dead
    defl = np.zeros(n, dtype=np.uint8)
    rep = np.zeros(n, dtype=np.uint8)
    arr = column
    path_pos = 1  # plan.path[0] is the top-level column itself
    cur_rep = 0

    for step in plan.steps:
        if step.kind == "opt":
            valid = _validity(arr)
            av = idx >= 0
            vv = np.zeros(len(idx), dtype=bool)
            vv[av] = valid[idx[av]]
            defl = defl + vv.astype(np.uint8)
            idx = np.where(av & ~vv, np.int64(-1), idx)
        elif step.kind == "struct":
            arr = arr.field(plan.path[path_pos])
            path_pos += 1
        elif step.kind == "rep":
            offsets = np.asarray(arr.offsets)
            lens = offsets[1:] - offsets[:-1]
            av = idx >= 0
            counts = np.zeros(len(idx), dtype=np.int64)
            counts[av] = lens[idx[av]]
            counts = np.maximum(counts, 0)  # defensive vs. odd null-slot offsets
            emit = np.maximum(counts, 1)
            total = int(emit.sum())
            firsts = np.cumsum(emit) - emit  # exclusive prefix sum
            new_rep = np.full(total, cur_rep + 1, dtype=np.uint8)
            new_rep[firsts] = rep
            has = counts > 0
            new_def = np.repeat(defl + has.astype(np.uint8), emit)
            new_idx = np.full(total, -1, dtype=np.int64)
            starts = np.zeros(len(idx), dtype=np.int64)
            starts[av] = offsets[:-1][idx[av]]
            elem_mask = np.repeat(has, emit)
            within = np.arange(total, dtype=np.int64) - np.repeat(firsts, emit)
            cand = np.repeat(starts, emit) + within
            new_idx[elem_mask] = cand[elem_mask]
            idx, defl, rep = new_idx, new_def, new_rep
            arr = arr.values
            cur_rep += 1
        else:  # pragma: no cover
            raise ValueError(f"unknown step kind {step.kind}")

    alive = idx >= 0
    if plan.max_rep == 0 and alive.all():
        # no list expansion and nothing dropped: idx is the identity —
        # skip the take() (a full payload copy; content columns are
        # ~90% of the bytes, so this halves shred memory traffic)
        values = arr
    else:
        values = arr.take(pa.array(idx[alive]))
    if values.null_count:  # data violating a non-nullable schema
        raise ValueError(f"nulls in required leaf {plan.dotted}")
    return ShreddedColumn(
        plan=plan,
        def_levels=defl if plan.max_def > 0 else None,
        rep_levels=rep if plan.max_rep > 0 else None,
        values=values,
        num_entries=len(idx),
    )


def unshred(
    plan: ColumnPlan,
    def_levels: np.ndarray | None,
    rep_levels: np.ndarray | None,
    values: pa.Array,
    num_entries: int,
) -> pa.Array:
    """Exact inverse of :func:`shred`: rebuild the nested column."""
    defl = (
        np.asarray(def_levels, dtype=np.int64)
        if def_levels is not None
        else np.zeros(num_entries, dtype=np.int64)
    )
    rep = (
        np.asarray(rep_levels, dtype=np.int64)
        if rep_levels is not None
        else np.zeros(num_entries, dtype=np.int64)
    )

    # Assign each opt/rep step its 1-based definition index, rep steps
    # their 1-based repetition index.
    annotated: list[tuple[str, int, int, int]] = []  # (kind, def_idx, rep_idx, path_pos)
    d = r = 0
    path_pos = 1
    for step in plan.steps:
        if step.kind == "opt":
            d += 1
            annotated.append(("opt", d, r, path_pos))
        elif step.kind == "rep":
            d += 1
            r += 1
            annotated.append(("rep", d, r, path_pos))
        else:
            annotated.append(("struct", d, r, path_pos))
            path_pos += 1

    # Innermost layer: scatter values into entries (present iff def == max_def).
    present = defl == plan.max_def
    if present.all() and len(values) == num_entries:
        cur = values  # identity scatter: skip the payload copy
    else:
        take_idx = np.cumsum(present) - 1
        take = pa.array(np.where(present, take_idx, 0), type=pa.int64(), mask=~present)
        cur = values.take(take) if len(values) else pa.nulls(num_entries, plan.arrow_type)

    for kind, def_idx, rep_idx, ppos in reversed(annotated):
        if kind == "opt":
            valid = defl >= def_idx
            if not valid.all():
                # re-wrap with validity; keep underlying data
                indices = pa.array(
                    np.arange(len(cur), dtype=np.int64), type=pa.int64(), mask=~valid
                )
                cur = cur.take(indices)
        elif kind == "struct":
            child_name = plan.path[ppos]
            cur = pa.StructArray.from_arrays([cur], names=[child_name])
        else:  # rep
            starts_mask = rep < rep_idx
            slot_firsts = np.flatnonzero(starts_mask)
            n_slots = len(slot_firsts)
            bounds = np.concatenate((slot_firsts, [len(rep)]))
            slot_sizes = np.diff(bounds)
            elem = defl >= def_idx  # entries that are real elements at this depth
            # per-slot element counts
            slot_id = np.cumsum(starts_mask) - 1
            kept = np.zeros(n_slots, dtype=np.int64)
            np.add.at(kept, slot_id[elem], 1)
            offsets = np.concatenate(([0], np.cumsum(kept))).astype(np.int32)
            child = cur.filter(pa.array(elem)) if not elem.all() else cur
            cur = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()), child)
            # collapse entry-level arrays to slot level
            defl = defl[slot_firsts]
            rep = rep[slot_firsts]

    return cur
