"""The foreign-parquet reader's Arrow path: every decoded chunk is one
Arrow array of the type ``_spark_type`` declares, so repeated INT96
leaves come back as epoch-ns like flat ones, a pruned read that keeps no
row still returns typed columns, and a column that would need 64-bit
Arrow offsets fails with its name. ``read_table`` returns the requested
column order, and a damaged page fails with a ValueError naming its
column and offset."""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from engine import parquet_compat as pc
from engine import parquet_out as po

DAY_NS = 86_400_000_000_000
TS_ROWS = [[0, 1_600_000_000_123_456_789], None, [], [None, -3 * DAY_NS + 7]]
TS_FLAT = [1_600_000_000_123_456_789, None, 5, -DAY_NS]


def _int96_file(tmp_path) -> str:
    path = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({
            "t": pa.array(TS_FLAT, pa.timestamp("ns")),
            "ts": pa.array(TS_ROWS, pa.list_(pa.timestamp("ns"))),
        }),
        path,
        use_deprecated_int96_timestamps=True,
    )
    assert {c.phys for c in pc.read_file_info(path).columns} == {"int96"}
    return path


def test_repeated_int96_leaves_are_epoch_ns(tmp_path):
    """A list<timestamp> written as INT96 assembles to epoch-ns longs,
    like the flat INT96 column of the same file and as ``_spark_type``
    declares (array<long>) — not to the raw 12-byte values."""
    path = _int96_file(tmp_path)
    tab = pc.read_table(path)
    flat, flat_valid = tab["t"]
    assert flat.dtype == np.int64
    assert flat.tolist() == [TS_FLAT[0], 0, 5, -DAY_NS]
    assert flat_valid.tolist() == [True, False, True, True]
    records, valid = tab["ts.list.element"]
    assert records == TS_ROWS
    assert valid.tolist() == [True, False, True, True]
    col = next(c for c in pc.read_file_info(path).columns if c.max_rep)
    assert pc._spark_type(col) == "array<long>"


def test_repeated_int96_leaves_distributed(spark, tmp_path):
    from pyspark.sql.types import ArrayType, LongType

    path = _int96_file(tmp_path)
    df = pc.read_parquet_with_engine(spark, path)
    assert df.schema["ts.list.element"].dataType == ArrayType(LongType())
    rows = df.collect()
    assert [r["ts.list.element"] for r in rows] == TS_ROWS
    assert [r["t"] for r in rows] == TS_FLAT


def _flat_file(tmp_path) -> str:
    """perfbench's flat shape — int64, int32, nullable int64, utf8 —
    plus a list column, with a PageIndex."""
    n = 2000
    ids = np.arange(n, dtype=np.int64) * 3
    valid = np.arange(n) % 10 != 0
    offsets = np.arange(n + 1, dtype=np.int64) * 2
    path = str(tmp_path / "flat.parquet")
    po.write_table(
        path,
        [
            ("id", "int64", "DELTA_BINARY_PACKED", ids, None),
            ("low", "int32", "AUTO", (ids % 50).astype(np.int32), None),
            ("nint", "int64", "PLAIN", ids * 7, valid),
            ("text", "utf8", "AUTO",
             po.flat_strings([f"w{i % 37}" for i in range(n)]), None),
            ("xs", "list<int32>", "PLAIN",
             (offsets, np.arange(2 * n, dtype=np.int32), None), None),
        ],
        page_size_rows=256,
        sorting_columns=[("id", False, False)],
    )
    return path


def _same_shape(empty, full):
    (ev, evalid), (fv, _) = empty, full
    assert type(ev) is type(fv)
    if isinstance(fv, np.ndarray):
        assert ev.dtype == fv.dtype
    assert len(ev) == 0 and evalid.dtype == bool and len(evalid) == 0


def test_pruned_empty_result_keeps_column_types(tmp_path):
    """A predicate that prunes every row returns each requested column
    empty and of its own type: numpy of the column's dtype for fixed
    types, an empty list for byte arrays and lists."""
    path = _flat_file(tmp_path)
    cols = ["text", "id", "low", "xs.list.element"]
    full, _, _ = pc.read_table_pruned(path, ("id", 0, 10**9), columns=cols)
    empty, pr, pt = pc.read_table_pruned(path, ("id", 1, 2), columns=cols)
    assert list(empty) == cols and pr <= 1 < pt
    for name in cols:
        _same_shape(empty[name], full[name])


def test_pruned_empty_result_without_columns_has_every_column(tmp_path):
    """With ``columns=None`` an all-pruned read returns every column a
    non-empty read returns, in the same order."""
    path = _flat_file(tmp_path)
    full, _, _ = pc.read_table_pruned(path, ("id", ">=", 0))
    empty, _, _ = pc.read_table_pruned(path, ("id", "<", 0))
    assert list(empty) == list(full) == [
        "id", "low", "nint", "text", "xs.list.element"
    ]
    for name in full:
        _same_shape(empty[name], full[name])


def test_large_offsets_name_the_column(tmp_path, monkeypatch):
    """Byte values or list elements beyond 32-bit Arrow offsets raise a
    ValueError naming the column (the limit is lowered here so the test
    stays small)."""
    path = _flat_file(tmp_path)
    monkeypatch.setattr(pc, "_MAX_OFFSET", 1000)
    with pytest.raises(ValueError, match=r"^text: .* value bytes need 64-bit"):
        pc.read_table(path, columns=["text"])
    with pytest.raises(
        ValueError, match=r"^xs\.list\.element: .* list elements need 64-bit"
    ):
        pc.read_table(path, columns=["xs.list.element"])
    assert len(pc.read_table(path, columns=["id"])["id"][0]) == 2000


def _list_col():
    """optional group xs (LIST) { repeated group list { optional int32
    element } }"""
    return pc.ColumnInfo(
        path="xs.list.element", phys="int32", type_length=0, max_def=3,
        max_rep=1, encodings=[], codec=None, num_values=0, start_offset=0,
        total_compressed=0,
        nodes=[
            {"name": "xs", "kind": "opt", "def": 1, "rep": 0},
            {"name": "list", "kind": "rep", "def": 2, "rep": 1},
            {"name": "element", "kind": "opt", "def": 3, "rep": 1},
        ],
    )


@pytest.mark.parametrize(
    "vals, defs, reps, msg",
    [
        ([7], [3, 0], [0, 1], "continuation entry below"),
        ([7], [3], [1], "level streams out of range"),
        ([7], [3, 3], [0, 2], "level streams out of range"),
        ([], [4], [0], "level streams out of range"),
        ([7, 8], [3, 2], [0, 1], "assembled 1 values, stream has 2"),
    ],
)
def test_malformed_level_streams_raise(vals, defs, reps, msg):
    """Level streams that break the Dremel grammar fail with a ValueError
    naming the column, never a bare IndexError or a wrong record."""
    with pytest.raises(ValueError, match=rf"^xs\.list\.element: {msg}"):
        pc.assemble_repeated(
            _list_col(), np.array(vals, np.int32),
            np.array(defs, np.uint64), np.array(reps, np.uint64),
        )


def test_read_table_returns_requested_column_order(tmp_path):
    path = str(tmp_path / "order.parquet")
    cols = [
        (name, "int32", "PLAIN", np.arange(4, dtype=np.int32) + k, None)
        for k, name in enumerate("abc")
    ]
    po.write_table(path, cols, row_group_size=2)
    for want in (["c", "a"], ["b", "c", "a"]):
        assert list(pc.read_table(path, columns=want)) == want
        assert list(pc.read_table(path, columns=want, row_group=1)) == want
    assert list(pc.read_table(path)) == ["a", "b", "c"]


def _damaged(tmp_path, find: bytes, repl: bytes) -> tuple:
    """A one-column dictionary-encoded file with the first ``find`` at or
    after the chunk's first page replaced by ``repl`` (same length)."""
    path = str(tmp_path / "dict.parquet")
    po.write_table(
        path, [("v", "int32", "PLAIN_DICTIONARY",
                np.array([5, 6, 5, 6, 6], np.int32), None)],
    )
    (col,) = pc.read_file_info(path).columns
    buf = bytearray(open(path, "rb").read())
    at = buf.index(find, col.start_offset)
    buf[at : at + len(find)] = repl
    open(path, "wb").write(bytes(buf))
    return path, col


def test_dictionary_index_past_dictionary_names_column_and_page(tmp_path):
    # DictionaryPageHeader {1: num_values=2} -> 1: indices reach 1
    path, col = _damaged(tmp_path, b"\x4c\x15\x04", b"\x4c\x15\x02")
    with pytest.raises(ValueError, match=r"v: dictionary index 1 at or past "
                       r"the 1-entry dictionary \(page at offset \d+\)"):
        pc.read_table(path)


def test_missing_page_header_field_names_column_and_page(tmp_path):
    # DataPageHeader's first field id 1 -> 6: num_values and encoding gone
    path, col = _damaged(tmp_path, b"\x2c\x15", b"\x2c\x65")
    with pytest.raises(ValueError, match=r"v: page header at offset \d+ "
                       r"lacks field\(s\) \[1, 2\]"):
        pc.read_table(path)
    # the page-pruned read decodes the same header from its buffer of
    # selected pages
    with pytest.raises(ValueError, match=r"v: page header at offset \d+ of "
                       r"the selected pages lacks field\(s\) \[1, 2\]"):
        pc.read_table_pruned(path, ("v", 5, 5))


def test_zero_row_repeated_byte_array_column_reads_empty(tmp_path):
    path = str(tmp_path / "empty.parquet")
    pq.write_table(pa.table({"s": pa.array([], pa.list_(pa.string()))}), path)
    rows, valid = pc.read_table(path)["s.list.element"]
    assert rows == [] and len(valid) == 0
