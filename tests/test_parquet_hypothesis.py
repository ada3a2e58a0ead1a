"""Property-based hardening of the Parquet writer: random tables must
round-trip bit-exact through pyarrow (the independent reader), matching
the reference's fixture-sweep testing style (parquet-file-test.cc)."""

import math

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import example, given, settings
from hypothesis import strategies as st

from cpp_parquet_spark.parquet_writer import write_table

_int64 = st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1))
_double = st.one_of(
    st.none(),
    st.floats(allow_nan=False, allow_infinity=True, width=64),
)
_string = st.one_of(st.none(), st.text(max_size=40))
_bool = st.one_of(st.none(), st.booleans())
_flist = st.one_of(
    st.none(),
    st.lists(st.floats(allow_nan=False, width=32), max_size=6),
)


@st.composite
def _tables(draw):
    n = draw(st.integers(min_value=0, max_value=60))
    cols = {
        "i": draw(st.lists(_int64, min_size=n, max_size=n)),
        "d": draw(st.lists(_double, min_size=n, max_size=n)),
        "s": draw(st.lists(_string, min_size=n, max_size=n)),
        "b": draw(st.lists(_bool, min_size=n, max_size=n)),
        "xs": draw(st.lists(_flist, min_size=n, max_size=n)),
    }
    return pa.table(
        {
            "i": pa.array(cols["i"], pa.int64()),
            "d": pa.array(cols["d"], pa.float64()),
            "s": pa.array(cols["s"], pa.string()),
            "b": pa.array(cols["b"], pa.bool_()),
            "xs": pa.array(cols["xs"], pa.list_(pa.float32())),
        }
    )


@settings(max_examples=30, deadline=None)
@given(t=_tables(), rg=st.integers(min_value=1, max_value=25), gzip=st.booleans())
def test_random_tables_roundtrip(t, rg, gzip, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("hyp") / "t.parquet")
    write_table(t, path, row_group_rows=rg, compression="gzip" if gzip else None)
    back = pq.read_table(path)
    assert back.num_rows == t.num_rows
    for name in t.schema.names:
        got = back.column(name).combine_chunks().to_pylist()
        want = t.column(name).combine_chunks().to_pylist()
        assert got == want, name


def test_all_null_column(tmp_path):
    t = pa.table(
        {
            "x": pa.array([None] * 10, pa.int64()),
            "s": pa.array([None] * 10, pa.string()),
            "l": pa.array([None] * 10, pa.list_(pa.float32())),
        }
    )
    path = str(tmp_path / "nulls.parquet")
    write_table(t, path)
    back = pq.read_table(path)
    assert back.column("x").null_count == 10
    assert back.column("s").null_count == 10
    assert back.column("l").null_count == 10


def test_nan_column_roundtrips_without_stats(tmp_path):
    t = pa.table({"d": pa.array([1.0, float("nan"), -2.0], pa.float64())})
    path = str(tmp_path / "nan.parquet")
    write_table(t, path)
    back = pq.read_table(path).column("d").combine_chunks().to_pylist()
    assert back[0] == 1.0 and back[2] == -2.0 and math.isnan(back[1])
    st_ = pq.ParquetFile(path).metadata.row_group(0).column(0).statistics
    assert not st_.has_min_max  # NaN poisons ordering: stats omitted


@settings(max_examples=25, deadline=None)
@given(
    t=_tables(),
    rg=st.integers(min_value=1, max_value=25),
    gzip=st.booleans(),
    use_dict=st.booleans(),
)
def test_random_tables_roundtrip_v2_pages(t, rg, gzip, use_dict, tmp_path_factory):
    """Same sweep through DATA_PAGE_V2 + delta encodings: random
    null-riddled tables must read back bit-exact via pyarrow."""
    path = str(tmp_path_factory.mktemp("hyp2") / "t.parquet")
    write_table(
        t,
        path,
        row_group_rows=rg,
        compression="gzip" if gzip else None,
        use_dictionary=use_dict,
        data_page_version=2,
        page_records=7,  # force multi-page chunks at tiny sizes
    )
    back = pq.read_table(path)
    assert back.num_rows == t.num_rows
    for name in t.schema.names:
        got = back.column(name).combine_chunks().to_pylist()
        want = t.column(name).combine_chunks().to_pylist()
        assert got == want, name


def _mixed_width_block() -> list[int]:
    """One DELTA_BINARY_PACKED block whose four miniblocks pack at widths
    0, 1, 33 and 64, the last one part-filled: 32+32+32+16 deltas above
    the block's min delta -2**63, chained into int64 values with
    wrap-around."""
    lo = -(2**63)
    deltas = [lo] * 32 + [lo + i % 2 for i in range(32)] + [lo + (i * 2**32 + i) % 2**33 for i in range(32)]
    deltas += [lo + (2**64 - 1 if i == 5 else i) for i in range(16)]
    vals = [7]
    for d in deltas:
        vals.append((vals[-1] + d + 2**63) % 2**64 - 2**63)
    return vals


@settings(max_examples=25, deadline=None)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
        max_size=300,
    ),
    v2=st.booleans(),
)
@example(vals=_mixed_width_block(), v2=False)
@example(vals=_mixed_width_block(), v2=True)
def test_random_ints_delta_binary_packed(vals, v2, tmp_path_factory):
    """Random nullable int64 columns through the DELTA_BINARY_PACKED
    eligibility gate (delta or PLAIN, whichever the size heuristic
    picks) read back exactly — covers block/miniblock boundary cases."""
    t = pa.table({"v": pa.array(vals, pa.int64())})
    path = str(tmp_path_factory.mktemp("dbp") / "t.parquet")
    write_table(
        t,
        path,
        use_dictionary=False,
        data_page_version=2 if v2 else 1,
        page_records=129,  # straddle the 128-value delta block size
    )
    assert pq.read_table(path).column("v").to_pylist() == vals
