"""2-GiB single-column stress — the reference's commented-out stress
pair (parquet-file-test.cc:246-305: OneRequiredColumnsTwoGibibytesOfData
writes 2^31 bytes of INT32 through Flush; the RowGroupTest twin only
checks the row-group count arithmetic).

The full write is heavy (~2 GiB of page IO), so it is opt-in:
``SGC_STRESS=1 pytest tests/test_stress_2gib.py``.  The row-group
*arithmetic* twin — the part the reference kept cheap on purpose — runs
unconditionally: byte-targeted packing over a simulated 2-GiB column
must yield ceil(2 GiB / target) groups without materializing anything.
"""

import os

import numpy as np
import pyarrow as pa
import pytest

TWO_GIB = 2_147_483_648


def test_row_group_count_arithmetic():
    """CalculateNumberOfRowGroups twin: the byte-targeted packer must
    produce exactly total_bytes/target groups for a uniform fixed-width
    column — the arithmetic the reference's RowGroupTest asserts —
    checked at 1/512 scale (same formula, no 2 GiB alloc)."""
    from cpp_parquet_spark.parquet_writer import bounded_groups

    n = 1 << 20  # 4 MiB of INT32
    t = pa.table({"AllInts": pa.array(np.full(n, 2**31 - 1, dtype=np.int32))})
    target = 128 << 10
    # write_table's probe batches: 1/64 of the capped group size
    batches = t.to_batches(max_chunksize=n // 64)
    slices = [g for _, g in bounded_groups(batches, max_rows=1 << 30, max_bytes=target)]
    assert len(slices) == (4 * n) // target
    assert sum(s.num_rows for s in slices) == n


@pytest.mark.skipif(os.environ.get("SGC_STRESS") != "1", reason="2 GiB write; set SGC_STRESS=1")
def test_two_gib_single_column_write(tmp_path):
    import duckdb
    import pyarrow.parquet as pq

    from cpp_parquet_spark.parquet_writer import ParquetWriter

    n_values = TWO_GIB // 4
    schema = pa.schema([pa.field("AllInts", pa.int32(), nullable=False)])
    path = str(tmp_path / "twogib.parquet")
    w = ParquetWriter(path, schema, use_dictionary=False, use_delta=False)
    step = 1 << 24  # 16 Mi values (~64 MiB) per row group
    block = pa.table({"AllInts": pa.array(np.full(step, 2**31 - 1, dtype=np.int32))})
    for _ in range(n_values // step):
        w.write_row_group(block)
    stats = w.close()
    assert stats["rows"] == n_values
    assert os.path.getsize(path) > TWO_GIB  # PLAIN, uncompressed
    meta = pq.read_metadata(path)
    assert meta.num_rows == n_values
    n, mn, mx = duckdb.sql(
        f"select count(*), min(AllInts), max(AllInts) from '{path}'"
    ).fetchone()
    assert (n, mn, mx) == (n_values, 2**31 - 1, 2**31 - 1)
