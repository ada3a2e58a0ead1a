"""``parquet_writer.bounded_groups``: the one packer behind Parquet row
groups, encode chunks and decode groups.  Pure pyarrow, no Spark."""

import numpy as np
import pyarrow as pa
import pytest

from cpp_parquet_spark.parquet_writer import bounded_groups


def _batch(ids, parts=None, chunks=None):
    cols = {"id": pa.array(ids, pa.int64())}
    if parts is not None:
        cols["part"] = pa.array(parts, pa.int32())
    if chunks is not None:
        cols["chunk"] = pa.array(chunks, pa.int64())
    return pa.RecordBatch.from_pydict(cols)


def _ids(groups):
    return [(key, g.column("id").to_pylist()) for key, g in groups]


def test_key_run_spans_a_batch_boundary():
    batches = [_batch([0, 1, 2], [5, 5, 7]), _batch([3, 4], [7, 9])]
    groups = list(bounded_groups(batches, None, keys=("part",)))
    assert _ids(groups) == [((5,), [0, 1]), ((7,), [2, 3]), ((9,), [4])]
    assert all(g.schema.names == ["id"] for _, g in groups)


def test_any_key_change_closes_a_group():
    batches = [_batch([0, 1, 2, 3], [1, 1, 1, 2], [0, 0, 1, 1])]
    got = _ids(bounded_groups(batches, None, keys=("part", "chunk")))
    assert got == [((1, 0), [0, 1]), ((1, 1), [2]), ((2, 1), [3])]


def test_cap_falls_inside_a_batch():
    batches = [_batch(list(range(5))), _batch(list(range(5, 12)))]
    got = _ids(bounded_groups(batches, 4))
    assert got == [((), [0, 1, 2, 3]), ((), [4, 5, 6, 7]), ((), [8, 9, 10, 11])]


def test_byte_target_closes_before_the_batch_that_overflows():
    batches = [_batch(list(range(i, i + 10))) for i in range(0, 50, 10)]  # 80 B each
    assert [g.num_rows for _, g in bounded_groups(batches, None, max_bytes=200)] == [20, 20, 10]
    # a batch larger than the target still forms a group of its own
    assert [g.num_rows for _, g in bounded_groups(batches, None, max_bytes=50)] == [10] * 5
    # the row cap still applies under a byte target
    assert [g.num_rows for _, g in bounded_groups(batches, 15, max_bytes=200)] == [15, 15, 15, 5]


def test_empty_batches_are_skipped():
    empty = _batch([], [])
    batches = [empty, _batch([1, 2], [3, 3]), empty, _batch([4], [3]), empty]
    assert _ids(bounded_groups(batches, None, keys=("part",))) == [((3,), [1, 2, 4])]
    assert list(bounded_groups([empty, empty], 10)) == []


def test_max_rows_below_one_is_refused():
    with pytest.raises(ValueError, match="max_rows"):
        next(bounded_groups([_batch([1])], 0))


def test_matches_a_row_at_a_time_reference():
    rng = np.random.default_rng(7)
    parts = np.sort(rng.integers(0, 6, 500))
    ids = np.arange(500)
    cuts = np.sort(rng.choice(np.arange(1, 500), 20, replace=False))
    batches = [
        _batch(i.tolist(), p.tolist()) for i, p in zip(np.split(ids, cuts), np.split(parts, cuts))
    ]
    for cap in (1, 3, 64, None):
        want: list = []
        for i, p in zip(ids.tolist(), parts.tolist()):
            if not want or want[-1][0] != (p,) or len(want[-1][1]) == cap:
                want.append(((p,), []))
            want[-1][1].append(i)
        assert _ids(bounded_groups(batches, cap, keys=("part",))) == want, cap
