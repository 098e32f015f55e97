"""REPEATED (list) columns across the parquet interchange boundary, both
directions (VERDICT r5 #2/#3): engine/parquet_out.py writes the 3-level
LIST convention (rep/def shredding per reference src/column/writer.rs:
304-345) that pyarrow, DuckDB, Spark's JVM reader and the engine's own
foreign reader all consume; engine/parquet_compat.py assembles foreign
repeated columns (reference src/record/reader.rs:334-376, incl. the
legacy no-annotation shape) value-exact vs DuckDB."""

import numpy as np
import pytest

from engine import parquet_compat as pc
from engine import parquet_out as po

from _assembly_oracle import _assemble_walk

GOLDEN = "/root/reference/data"

# rows: [1,2,3], [], None, [4,None,6], [7]
INT_ROWS = [[1, 2, 3], [], None, [4, None, 6], [7]]
STR_ROWS = [["a", "bb"], None, ["ccc"], [], ["dd", None]]


def _int_list_col(enc="PLAIN"):
    offsets = np.array([0, 3, 3, 3, 6, 7], np.int64)
    validity = np.array([1, 1, 0, 1, 1], bool)
    elem_valid = np.array([1, 1, 1, 1, 0, 1, 1], bool)
    dense = np.array([1, 2, 3, 4, 6, 7], np.int32)
    return ("toks", "list<int32>", enc, (offsets, dense, elem_valid), validity)


def _str_list_col(enc="PLAIN"):
    offsets = np.array([0, 2, 2, 3, 3, 5], np.int64)
    validity = np.array([1, 0, 1, 1, 1], bool)
    elem_valid = np.array([1, 1, 1, 1, 0], bool)
    lens, data = po.flat_strings(["a", "bb", "ccc", "dd"])
    return ("words", "list<utf8>", enc, (offsets, (lens, data), elem_valid), validity)


@pytest.mark.parametrize("version", [1, 2])
@pytest.mark.parametrize("codec", [None, "snappy", "zstd"])
def test_pyarrow_and_duckdb_read_engine_lists(tmp_path, version, codec):
    """Null list vs empty list vs null element all survive; v1 levels are
    length-prefixed inside the compressed section, v2 levels sit raw
    before it (rep FIRST, then def)."""
    import duckdb
    import pyarrow.parquet as pq

    path = str(tmp_path / "lists.parquet")
    po.write_table(
        path,
        [_int_list_col(), _str_list_col()],
        codec=codec,
        data_page_version=version,
    )
    t = pq.read_table(path)
    assert t.column("toks").to_pylist() == INT_ROWS
    assert t.column("words").to_pylist() == STR_ROWS
    rows = duckdb.sql(f"SELECT toks, words FROM read_parquet('{path}')").fetchall()
    assert [r[0] for r in rows] == INT_ROWS
    assert [r[1] for r in rows] == STR_ROWS


def test_spark_jvm_reads_engine_lists(spark, tmp_path):
    """The interchange bar that matters for this engine's flagship column:
    tokens array<int32> written by the engine, read by Spark itself."""
    path = str(tmp_path / "lists_spark.parquet")
    po.write_table(
        path,
        [_int_list_col(), _str_list_col()],
        codec="snappy",
    )
    df = spark.read.parquet(path)
    got = [
        (row["toks"], row["words"])
        for row in df.orderBy("toks").collect()
    ]
    back_t = sorted(
        (r[0] for r in got), key=lambda x: (x is None, x)
    )
    assert sorted(
        (r for r in INT_ROWS), key=lambda x: (x is None, x)
    ) == back_t
    assert sorted(
        (r[1] for r in got),
        key=lambda x: (x is None, [(e is None, e) for e in (x or [])]),
    ) == sorted(
        STR_ROWS,
        key=lambda x: (x is None, [(e is None, e) for e in (x or [])]),
    )


def test_engine_reader_round_trips_engine_lists(tmp_path):
    """Closed loop: engine-written LIST columns assembled back by the
    engine's own foreign reader (write levels == read levels grammar)."""
    for version in (1, 2):
        path = str(tmp_path / f"own_v{version}.parquet")
        po.write_table(
            path,
            [_int_list_col(), _str_list_col("DELTA_LENGTH_BYTE_ARRAY")],
            codec="snappy",
            data_page_version=version,
        )
        t = pc.read_table(path)
        assert t["toks.list.element"][0] == INT_ROWS
        assert t["words.list.element"][0] == STR_ROWS


def test_multi_row_group_lists(tmp_path):
    """Row-group slicing of list columns: entry offsets + element-validity
    prefix sums keep each group's dense slice aligned."""
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    counts = rng.integers(0, 5, 1000)
    offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
    total = int(offsets[-1])
    elem_valid = rng.integers(0, 5, total) > 0
    dense = rng.integers(0, 100, int(elem_valid.sum())).astype(np.int64)
    validity = counts > 0  # empty rows double as null rows here
    validity[::7] = True  # ...except every 7th, kept as empty list
    expected = []
    di = 0
    ei = 0
    for i in range(1000):
        if not validity[i]:
            expected.append(None)
            ei += int(counts[i])
            continue
        row = []
        for _ in range(int(counts[i])):
            if elem_valid[ei]:
                row.append(int(dense[di]))
                di += 1
            else:
                row.append(None)
            ei += 1
        expected.append(row)
    path = str(tmp_path / "rg.parquet")
    po.write_table(
        path,
        [("v", "list<int64>", "AUTO", (offsets, dense, elem_valid), validity)],
        codec="snappy",
        row_group_size=128,
        data_page_version=2,
    )
    t = pq.read_table(path)
    assert t.column("v").to_pylist() == expected
    own = pc.read_table(path)["v.list.element"][0]
    assert own == expected


def test_golden_nested_lists_vs_duckdb():
    """The reference's own nested-list golden file (3-deep LIST), decoded
    to ROWS by the engine's assembler and matched value-exact against
    DuckDB's independent reader (closes the leaf-stream-only caveat of
    SURVEY §5 / VERDICT r5 missing #3)."""
    import duckdb

    p = f"{GOLDEN}/nested_lists.snappy.parquet"
    t = pc.read_table(p)
    rows = duckdb.sql(f"SELECT a, b FROM read_parquet('{p}')").fetchall()
    assert t["a.list.element.list.element.list.element"][0] == [r[0] for r in rows]
    assert t["b"][0].tolist() == [r[1] for r in rows]


def test_golden_repeated_no_annotation_vs_duckdb():
    """Legacy repeated-group-without-LIST-annotation (the Spark
    back-compat rule, reference src/record/reader.rs:334-376): struct
    leaves assemble to parallel list columns; null phoneNumbers vs empty
    phone[] vs null kind all distinct."""
    import duckdb

    p = f"{GOLDEN}/repeated_no_annotation.parquet"
    t = pc.read_table(p)
    rows = duckdb.sql(
        f"""SELECT id,
        CASE WHEN phoneNumbers IS NULL THEN NULL
             ELSE list_transform(phoneNumbers.phone, x -> x.number) END,
        CASE WHEN phoneNumbers IS NULL THEN NULL
             ELSE list_transform(phoneNumbers.phone, x -> x.kind) END
        FROM read_parquet('{p}')"""
    ).fetchall()
    assert t["id"][0].tolist() == [r[0] for r in rows]
    assert t["phoneNumbers.phone.number"][0] == [r[1] for r in rows]
    assert t["phoneNumbers.phone.kind"][0] == [r[2] for r in rows]


def test_golden_nested_maps_leaves_vs_duckdb():
    """MAP shape = repeated key_value group; per-leaf assembly projects
    keys and values as aligned nested lists."""
    import duckdb

    p = f"{GOLDEN}/nested_maps.snappy.parquet"
    t = pc.read_table(p)
    rows = duckdb.sql(
        f"""SELECT map_keys(a),
               list_transform(map_values(a),
                   v -> CASE WHEN v IS NULL THEN NULL ELSE map_keys(v) END),
               list_transform(map_values(a),
                   v -> CASE WHEN v IS NULL THEN NULL ELSE map_values(v) END)
        FROM read_parquet('{p}')"""
    ).fetchall()
    assert t["a.key_value.key"][0] == [r[0] for r in rows]
    assert t["a.key_value.value.key_value.key"][0] == [r[1] for r in rows]
    assert t["a.key_value.value.key_value.value"][0] == [r[2] for r in rows]


def test_corrupt_footer_fails_clean(tmp_path):
    """read_file_info's documented fail-clean contract (r5 advice #4): a
    truncated/garbled footer surfaces ValueError, never raw IndexError."""
    path = str(tmp_path / "bad.parquet")
    po.write_table(path, [_int_list_col()], codec=None)
    data = bytearray(open(path, "rb").read())
    # clobber the footer bytes but keep magic + length plausible
    flen_pos = len(data) - 8
    data[flen_pos - 40 : flen_pos - 8] = b"\xfa" * 32
    open(path, "wb").write(bytes(data))
    with pytest.raises(ValueError):
        pc.read_file_info(path)


def test_byte_array_stats_truncated(tmp_path):
    """Footer min/max for byte arrays stay bounded (r5 advice #2,
    parquet-mr's 64-byte truncation): the stored max upper-bounds the
    real max, the stored min lower-bounds it, and neither embeds the
    full document body."""
    import pyarrow.parquet as pq

    vals = ["zz" + "x" * 5000, "aa" + "y" * 5000]
    path = str(tmp_path / "stats.parquet")
    po.write_table(
        path, [("t", "utf8", "PLAIN", po.flat_strings(vals), None)], codec=None
    )
    st = pq.ParquetFile(path).metadata.row_group(0).column(0).statistics
    # pyarrow decodes UTF8 stats to str
    lo = st.min if isinstance(st.min, str) else st.min.decode()
    hi = st.max if isinstance(st.max, str) else st.max.decode()
    assert len(lo) <= 64 and len(hi) <= 64
    # the truncated bounds must still admit the true values -> no false
    # negatives for any pruning reader
    assert lo <= min(vals) <= max(vals) <= hi


def test_row_group_total_byte_size_is_uncompressed(tmp_path):
    """RowGroup.total_byte_size must be the UNCOMPRESSED total (r5 advice
    #1, parquet spec): equals the per-column uncompressed sum, not the
    compressed one."""
    import pyarrow.parquet as pq

    ids = [f"doc-{i:08d}" for i in range(4000)]
    path = str(tmp_path / "tbs.parquet")
    po.write_table(
        path,
        [("id", "utf8", "DELTA_LENGTH_BYTE_ARRAY", po.flat_strings(ids), None)],
        codec="zstd",
    )
    rg = pq.ParquetFile(path).metadata.row_group(0)
    uncomp = sum(
        rg.column(i).total_uncompressed_size for i in range(rg.num_columns)
    )
    comp = sum(
        rg.column(i).total_compressed_size for i in range(rg.num_columns)
    )
    assert rg.total_byte_size == uncomp
    assert rg.total_byte_size > comp


def test_impala_nullable_nested_rows_vs_duckdb():
    """Full row assembly of the Impala nullable complex-types golden file
    (required LIST groups, maps, struct-nested lists, planted null inner
    arrays) vs DuckDB — previously validated leaf-stream-only."""
    import duckdb

    p = f"{GOLDEN}/nullable.impala.parquet"
    t = pc.read_table(p)
    rows = duckdb.sql(
        f"""SELECT id, int_array, int_array_Array,
               CASE WHEN int_map IS NULL THEN NULL ELSE map_keys(int_map) END,
               CASE WHEN int_map IS NULL THEN NULL ELSE map_values(int_map) END
        FROM read_parquet('{p}') ORDER BY id"""
    ).fetchall()
    order = np.argsort(t["id"][0])
    for j, i in enumerate(order):
        assert t["id"][0][i] == rows[j][0]
        assert t["int_array.list.element"][0][i] == rows[j][1]
        assert t["int_array_Array.list.element.list.element"][0][i] == rows[j][2]
        assert t["int_map.map.key"][0][i] == rows[j][3]
        assert t["int_map.map.value"][0][i] == rows[j][4]


def test_repeated_primitive_leaf_assembles():
    """Legacy 2-level shape where the REPEATED node is the leaf itself
    (`repeated int32 nums` — no LIST annotation, no group; r6 review #4):
    first element opens the list, continuation entries append, zero
    entries mean an empty list."""
    col = pc.ColumnInfo(
        path="nums", phys="int32", type_length=0, max_def=1, max_rep=1,
        encodings=[], codec=None, num_values=6, start_offset=0,
        total_compressed=0,
        nodes=[{"name": "nums", "kind": "rep", "def": 1, "rep": 1}],
    )
    vals = np.array([1, 2, 3, 4, 5], np.int64)
    defs = np.array([1, 1, 1, 0, 1, 1], np.uint64)
    reps = np.array([0, 1, 1, 0, 0, 1], np.uint64)
    records = pc.assemble_repeated(col, vals, defs, reps)
    assert records.to_pylist() == [[1, 2, 3], [], [4, 5]]
    assert _assemble_walk(col, vals, defs, reps) == records.to_pylist()


def test_empty_list_table_writes(tmp_path):
    """Zero-row tables containing list columns must still write a valid
    file (r6 review #3 — the level builder indexed out of bounds)."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "empty.parquet")
    po.write_table(
        path,
        [
            (
                "tokens",
                "list<int32>",
                "PLAIN",
                (np.array([0], np.int64), np.empty(0, np.int32), None),
                None,
            )
        ],
    )
    t = pq.read_table(path)
    assert t.num_rows == 0 and t.column_names == ["tokens"]


def test_distributed_read_multi_group_lists(spark, tmp_path):
    """Repeated columns through the ROW-GROUP-split distributed reader: a
    4-group list file fans out one assembly task per group and the union
    of per-group Dremel assemblies is exactly the whole table."""
    n = 400
    counts = np.tile([0, 1, 2, 3], n // 4).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(counts)))
    dense = np.arange(int(offsets[-1]), dtype=np.int64)
    path = str(tmp_path / "dist_lists.parquet")
    po.write_table(
        path,
        [
            ("rid", "int64", "PLAIN", np.arange(n, dtype=np.int64), None),
            ("toks", "list<int64>", "PLAIN", (offsets, dense, None), None),
        ],
        row_group_size=100,
        codec="snappy",
    )
    df = pc.read_parquet_with_engine(
        spark, path, columns=["rid", "toks.list.element"],
        target_split_bytes=1,
    )
    assert df.rdd.getNumPartitions() == 4
    rows = {r["rid"]: r["toks.list.element"] for r in df.collect()}
    assert len(rows) == n
    for i in range(n):
        lo, hi = offsets[i], offsets[i + 1]
        assert rows[i] == list(range(lo, hi))
