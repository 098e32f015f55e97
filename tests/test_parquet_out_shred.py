"""Any-depth writes: ``parquet_out.write_table`` takes an Arrow table
whose columns nest list, struct and map up to three levels deep, with
null and empty values at every level, and every reader gets the table
back — pyarrow, the engine's own ``read_table`` (leaf by leaf, against
the same table written by pyarrow), DuckDB and Spark's JVM reader."""

import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from engine import parquet_compat as pc
from engine import parquet_out as po

_LEAVES = {
    pa.int32(): st.integers(-(1 << 31), (1 << 31) - 1),
    pa.int64(): st.integers(-(1 << 63), (1 << 63) - 1),
    pa.float64(): st.floats(allow_nan=False),
    pa.string(): st.text(max_size=4),
    pa.bool_(): st.booleans(),
    pa.date32(): st.dates(datetime.date(1970, 1, 1), datetime.date(2100, 1, 1)),
}


def _types(depth: int):
    """Arrow types with exactly ``depth`` levels of list/struct/map."""
    if depth == 0:
        return st.sampled_from(list(_LEAVES))
    inner = _types(depth - 1)
    nullable = st.booleans()
    return st.one_of(
        st.tuples(inner, nullable).map(
            lambda a: pa.list_(pa.field("element", a[0], a[1]))),
        st.lists(st.tuples(inner, nullable), min_size=1, max_size=2).map(
            lambda fs: pa.struct(
                [pa.field(f"f{i}", t, nl) for i, (t, nl) in enumerate(fs)])),
        st.tuples(inner, nullable).map(
            lambda a: pa.map_(pa.string(), pa.field("value", a[0], a[1]))),
    )


def _values(t: pa.DataType, nullable: bool = True):
    if pa.types.is_map(t):
        v = st.lists(st.tuples(
            st.text(max_size=3),
            _values(t.item_type, t.item_field.nullable)), max_size=3)
    elif pa.types.is_list(t):
        v = st.lists(
            _values(t.value_type, t.value_field.nullable), max_size=3)
    elif pa.types.is_struct(t):
        v = st.fixed_dictionaries(
            {f.name: _values(f.type, f.nullable) for f in t})
    else:
        v = _LEAVES[t]
    return st.one_of(st.none(), v) if nullable else v


@st.composite
def _tables(draw):
    n = draw(st.integers(0, 12))
    cols = {}
    for i in range(draw(st.integers(1, 2))):
        t = draw(st.integers(1, 3).flatmap(_types))
        nullable = draw(st.booleans())
        rows = draw(st.lists(_values(t, nullable), min_size=n, max_size=n))
        cols[f"c{i}"] = (pa.field(f"c{i}", t, nullable), rows)
    schema = pa.schema([f for f, _ in cols.values()])
    return pa.Table.from_pydict(
        {k: rows for k, (_, rows) in cols.items()}, schema=schema)


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(tbl=_tables(), rg=st.integers(1, 8), page=st.integers(1, 5),
       version=st.sampled_from([1, 2]))
def test_any_depth_round_trip(tmp_path, tbl, rg, page, version):
    path = str(tmp_path / "ours.parquet")
    ref = str(tmp_path / "pyarrow.parquet")
    po.write_table(path, tbl, row_group_size=rg, page_size_rows=page,
                   data_page_version=version)
    assert pq.read_table(path).to_pylist() == tbl.to_pylist()
    pq.write_table(tbl, ref)
    ours, theirs = pc._read_arrays(path, None, None), \
        pc._read_arrays(ref, None, None)
    assert list(ours) == list(theirs)
    for leaf, arr in ours.items():
        assert arr.to_pylist() == theirs[leaf].to_pylist(), leaf


def _deep_table() -> pa.Table:
    xss = [[[1, None], [], None], None, [], [[2, 3]], [[None]]]
    ev = [[{"xs": [1, 2]}, None, {"xs": None}, {"xs": []}], None, [],
          [{"xs": [None, 4]}], [None]]
    return pa.table({
        "id": pa.array(range(len(xss)), pa.int64()),
        "xss": pa.array(xss, pa.list_(pa.list_(pa.int32()))),
        "ev": pa.array(ev, pa.list_(pa.struct([("xs", pa.list_(pa.int32()))]))),
    })


@pytest.mark.parametrize("version", [1, 2])
def test_deep_lists_read_by_duckdb(tmp_path, version):
    import duckdb

    tbl = _deep_table()
    path = str(tmp_path / "deep.parquet")
    po.write_table(path, tbl, data_page_version=version, page_size_rows=2)
    got = duckdb.sql(
        f"SELECT * FROM read_parquet('{path}') ORDER BY id").arrow()
    assert got.to_pylist() == tbl.to_pylist()


def _plain(v):
    """Spark Row / list values -> plain Python for comparison."""
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def test_deep_lists_read_by_spark(spark, tmp_path):
    tbl = _deep_table()
    path = str(tmp_path / "deep.parquet")
    po.write_table(path, tbl, page_size_rows=2)
    rows = spark.read.parquet(path).orderBy("id").collect()
    assert [_plain(r) for r in rows] == tbl.to_pylist()


def test_shred_inverts_assemble_on_sliced_arrays():
    """Sliced Arrow arrays (non-zero offsets at every level) shred to the
    same levels and values as their compacted copies."""
    arr = _deep_table().column("ev").combine_chunks()
    field = pa.field("ev", arr.type)
    for a, b in ((1, 4), (2, 3), (0, 5)):
        got = po.shred(arr.slice(a, b), field)
        want = po.shred(pa.concat_arrays([arr.slice(a, b)]), field)
        for g, w in zip(got, want):
            assert g.path == w.path == ["ev", "list", "element", "xs",
                                        "list", "element"]
            assert np.array_equal(g.defs, w.defs)
            assert np.array_equal(g.reps, w.reps)
            assert np.array_equal(g.values, w.values)


def test_null_on_live_slot_of_required_field_raises(tmp_path):
    """A NULL where a required field has a value to write is refused,
    naming the leaf; it used to be written as the buffer's stale 0."""
    tbl = pa.Table.from_arrays(
        [pa.array([1, None, 3])],
        schema=pa.schema([pa.field("a", pa.int64(), nullable=False)]),
    )
    with pytest.raises(ValueError, match="column a: NULL in a non-nullable"):
        po.write_table(str(tmp_path / "a.parquet"), tbl)
    s = pa.StructArray.from_arrays(
        [pa.array([1, None, 3]), pa.array(["x", "y", "z"])],
        fields=[pa.field("x", pa.int64(), False), pa.field("y", pa.string())],
    )
    tbl = pa.Table.from_arrays([s], names=["s"])
    with pytest.raises(ValueError, match="column s.x: NULL in a non-nullable"):
        po.write_table(str(tmp_path / "s.parquet"), tbl)


def test_null_under_null_parent_of_required_field_is_written(tmp_path):
    """Spark writes struct<x: bigint NOT NULL> with a NULL child under
    every NULL struct slot; that child is dead and the file reads back."""
    s = pa.StructArray.from_arrays(
        [pa.array([1, None, 3]), pa.array(["x", None, "z"])],
        fields=[pa.field("x", pa.int64(), False), pa.field("y", pa.string())],
        mask=pa.array([False, True, False]),
    )
    tbl = pa.Table.from_arrays([s], names=["s"])
    path = str(tmp_path / "s.parquet")
    po.write_table(path, tbl)
    assert pq.read_table(path).column("s").to_pylist() == [
        {"x": 1, "y": "x"}, None, {"x": 3, "y": "z"},
    ]
