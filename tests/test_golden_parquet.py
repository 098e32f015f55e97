"""Byte-level interop: decode the reference's OWN golden parquet files
(written by Impala / parquet-mr, tested by the reference at
``src/file/reader.rs:545-703``) with the engine's codecs and match
pyarrow's read value-for-value. This is the cross-validation that
self-round-trips cannot provide: the thrift footer/page parsing and every
value grammar (PLAIN, PLAIN_DICTIONARY/RLE_DICTIONARY, RLE-boolean,
DELTA_BINARY_PACKED, DELTA_BYTE_ARRAY, v1+v2 pages, raw snappy) run
against bytes no code in this repo produced."""

import numpy as np
import pytest

from engine import parquet_compat as pc

DATA = "/root/reference/data"


def _assert_column_matches(ours, ref, col, atol=1e-6):
    vals, valid = ours[col]
    rc = ref.column(col)
    if str(rc.type).startswith("timestamp"):
        want = rc.cast("int64").to_pylist()
    else:
        want = rc.to_pylist()
    if isinstance(vals, list):
        got = vals
    else:
        got = [vals[i] if ok else None for i, ok in enumerate(valid)]
    assert len(got) == len(want), col
    for i, (g, w) in enumerate(zip(got, want)):
        if g is None or w is None:
            assert g is None and w is None, (col, i, g, w)
        elif isinstance(w, float):
            assert abs(g - w) <= atol, (col, i, g, w)
        elif isinstance(w, str) and isinstance(g, bytes):
            # engine surfaces BYTE_ARRAY as raw bytes; pyarrow decodes
            # UTF8-annotated columns to str
            assert g.decode() == w, (col, i, g, w)
        else:
            assert g == w, (col, i, g, w)


@pytest.mark.parametrize(
    "fname",
    [
        "alltypes_plain.parquet",
        "alltypes_dictionary.parquet",
        "alltypes_plain.snappy.parquet",
    ],
)
def test_alltypes_golden_files_value_exact(fname):
    """Impala alltypes files: PLAIN + PLAIN_DICTIONARY over every scalar
    physical type incl. INT96 timestamps and (for .snappy) raw-snappy
    pages — all 11 columns must match pyarrow exactly."""
    import pyarrow.parquet as pq

    path = f"{DATA}/{fname}"
    ours = pc.read_table(path)
    ref = pq.read_table(path)
    assert set(ours) == set(ref.column_names)
    for col in ref.column_names:
        _assert_column_matches(ours, ref, col)


def test_10k_v2_delta_codecs_value_exact():
    """parquet-mr 10k-v2: DELTA_BINARY_PACKED (int32+int64),
    DELTA_BYTE_ARRAY (variable binary AND fixed-len), RLE boolean values,
    PLAIN floats and an RLE_DICTIONARY INT96 column — 10000 rows each,
    decoded by the engine's own delta/rle/plain kernels."""
    import pyarrow.parquet as pq

    path = f"{DATA}/10k-v2.parquet"
    ours = pc.read_table(path)
    ref = pq.read_table(path)
    for col in ref.column_names:
        _assert_column_matches(ours, ref, col)
    info = pc.read_file_info(path)
    encs = {c.path: c.encodings for c in info.columns}
    assert "DELTA_BINARY_PACKED" in encs["int32_field"]
    assert "DELTA_BYTE_ARRAY" in encs["binary_field"]
    assert "DELTA_BYTE_ARRAY" in encs["flba_field"]
    assert "RLE" in encs["boolean_field"]


def test_datapage_v2_and_nested_nulls():
    """v2 data pages (uncompressed level section + snappy value section,
    parquet-mr 1.8) and a twice-optional nested leaf whose 8 rows are all
    NULL at some level (nulls.snappy.parquet)."""
    import pyarrow.parquet as pq

    path = f"{DATA}/test_datapage_v2.snappy.parquet"
    ours = pc.read_table(path, columns=["a", "b", "c", "d"])
    ref = pq.read_table(path)
    for col in ["a", "b", "c", "d"]:
        _assert_column_matches(ours, ref, col)
    # repeated column: explicitly out of scope, fails clean
    info = pc.read_file_info(path)
    e = [c for c in info.columns if c.path == "e.list.element"][0]
    with pytest.raises(ValueError, match="repeated"):
        pc.read_column(path, e)

    path = f"{DATA}/nulls.snappy.parquet"
    ours = pc.read_table(path)
    vals, valid = ours["b_struct.b_c_int"]
    ref = pq.read_table(path)
    want = [
        None if v is None else v["b_c_int"]
        for v in ref.column("b_struct").to_pylist()
    ]
    got = [vals[i] if ok else None for i, ok in enumerate(valid)]
    assert got == want == [None] * 8


def test_footer_metadata_matches_pyarrow():
    """The pure-python thrift compact parser agrees with pyarrow's footer
    read on row counts, physical types and value counts."""
    import pyarrow.parquet as pq

    for fname in ["alltypes_plain.parquet", "10k-v2.parquet"]:
        path = f"{DATA}/{fname}"
        info = pc.read_file_info(path)
        md = pq.ParquetFile(path).metadata
        assert info.num_rows == md.num_rows
        rg = md.row_group(0)
        ref_cols = {
            rg.column(i).path_in_schema: rg.column(i)
            for i in range(rg.num_columns)
        }
        assert {c.path for c in info.columns} == set(ref_cols)
        for c in info.columns:
            assert c.num_values == ref_cols[c.path].num_values, c.path
        assert info.created_by.split("(")[0] == (md.created_by or "").split("(")[0]


def test_malformed_footer_fails_clean(tmp_path):
    p = tmp_path / "x.parquet"
    p.write_bytes(b"PAR1garbagePAR1")
    with pytest.raises((ValueError, IndexError)):
        pc.read_file_info(str(p))
    p.write_bytes(b"NOPE")
    with pytest.raises(ValueError, match="magic"):
        pc.read_file_info(str(p))
    # dictionary-encoded page with no dictionary page fails loudly
    # (synthesized: point a dict-encoded column's offset past its dict page)
    path = f"{DATA}/alltypes_dictionary.parquet"
    info = pc.read_file_info(path)
    col = info.columns[0]
    import dataclasses

    broken = dataclasses.replace(
        col,
        start_offset=col.start_offset + 20,
        total_compressed=col.total_compressed - 20,
    )
    with pytest.raises(ValueError):
        pc.read_column(path, broken)


def test_spark_distributed_golden_read(spark):
    """read_parquet_with_engine: the mapInArrow path returns the same
    rows as the driver-side decode, with the footer-derived schema."""
    path = f"{DATA}/alltypes_plain.parquet"
    df = pc.read_parquet_with_engine(
        spark, path, columns=["id", "bigint_col", "string_col", "timestamp_col"]
    )
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 8
    ours = pc.read_table(path, columns=["id", "bigint_col", "string_col", "timestamp_col"])
    ids = ours["id"][0]
    bigs = ours["bigint_col"][0]
    ts = ours["timestamp_col"][0]
    strs = ours["string_col"][0]
    for i, vid in enumerate(ids):
        assert rows[vid]["bigint_col"] == bigs[i]
        assert bytes(rows[vid]["string_col"]) == strs[i]
        assert rows[vid]["timestamp_col"] == ts[i]
    assert dict(df.dtypes)["timestamp_col"] == "bigint"


def _leaf_array(arr, tokens):
    """Follow a parquet schema path through an arrow array, flattening
    lists/maps, to reach the leaf value array (nulls preserved). Wrapper
    group names ('list'/'bag'/'array' + element) occupy path tokens for
    annotated lists; unannotated repeated groups (repeated_no_annotation)
    consume none."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_map(t):
        side = tokens[1]
        child = arr.keys if side.lower() == "key" else arr.items
        return _leaf_array(child, tokens[2:])
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        if tokens and tokens[0].lower() in ("list", "bag", "array"):
            tokens = tokens[2:]
        return _leaf_array(arr.flatten(), tokens)
    if pa.types.is_struct(t):
        idx = [f.name for f in t].index(tokens[0])
        return _leaf_array(arr.field(idx), tokens[1:])
    assert not tokens, tokens
    return arr


@pytest.mark.parametrize(
    "fname",
    [
        "nested_lists.snappy.parquet",
        "nested_maps.snappy.parquet",
        "nonnullable.impala.parquet",
        "nullable.impala.parquet",
        "repeated_no_annotation.parquet",
    ],
)
def test_repeated_golden_leaf_streams(fname):
    """Deeply nested golden files (lists of lists, maps of maps, structs,
    Impala + parquet-mr writers): every leaf column's decoded value stream
    — exactly the def==max_def values in record order — must equal
    pyarrow's flattened non-null leaf values, and rep==0 must occur once
    per record. This validates the repetition/definition level grammar on
    foreign bytes without a second row-assembly implementation (the
    engine's own Dremel assembly is tested on its own format in
    test_nested_table)."""
    import pyarrow.parquet as pq

    path = f"{DATA}/{fname}"
    info = pc.read_file_info(path)
    ref = pq.read_table(path)
    assert info.columns, path
    for col in info.columns:
        vals, defs, reps = pc.read_column_with_levels(path, col)
        toks = col.path.split(".")
        la = _leaf_array(ref.column(toks[0]), toks[1:])
        want = [v for v in la.to_pylist() if v is not None]
        if isinstance(vals, tuple):
            lens, data = vals
            offs = np.concatenate(([0], np.cumsum(lens)))
            got = [
                bytes(data[offs[i] : offs[i + 1]]) for i in range(len(lens))
            ]
            if want and isinstance(want[0], str):
                got = [g.decode() for g in got]
        else:
            got = list(vals)
        assert len(got) == len(want), (col.path, len(got), len(want))
        for g, w in zip(got, want):
            if isinstance(w, float):
                assert abs(g - w) < 1e-6, (col.path, g, w)
            else:
                assert g == w, (col.path, g, w)
        # one rep==0 per record (repeated_no_annotation's footer says 0
        # rows — a quirk of its writer — so only check when rows > 0)
        if info.num_rows:
            assert int((reps == 0).sum()) == info.num_rows, col.path
        assert int((defs == col.max_def).sum()) == len(got), col.path


def test_stock_simulated_dict_fallback_file():
    """42000 rows x 22 double columns (PLAIN_DICTIONARY with mid-chunk
    PLAIN fallback pages + snappy) — the largest golden file, exercising
    the dict -> fallback page sequence the engine's own selector also
    implements."""
    import pyarrow.parquet as pq

    path = f"{DATA}/stock_simulated.parquet"
    info = pc.read_file_info(path)
    assert info.num_rows == 42000 and len(info.columns) == 22
    assert "PLAIN" in info.columns[0].encodings  # fallback really present
    ours = pc.read_table(path)
    ref = pq.read_table(path)
    for col in ref.column_names:
        vals, valid = ours[col]
        want = ref.column(col).to_pylist()
        got = [vals[i] if ok else None for i, ok in enumerate(valid)]
        for i, (g, w) in enumerate(zip(got, want)):
            if w is None:
                assert g is None, (col, i)
            else:
                assert g is not None and abs(g - w) < 1e-9, (col, i, g, w)


def test_dict_malformed_golden_fails_clean():
    """nation.dict-malformed.parquet: the column metadata lies about its
    encodings (dictionary-encoded data declared PLAIN). Lenient readers
    paper over it; the engine's strict grammar must raise ValueError — the
    same fail-clean contract as its own corrupt-chunk suite — and never
    return silently wrong values."""
    path = f"{DATA}/nation.dict-malformed.parquet"
    info = pc.read_file_info(path)
    assert info.num_rows == 25
    with pytest.raises(ValueError):
        pc.read_table(path)


def test_spark_distributed_multi_file_read(spark):
    """A file LIST fans out one decode task per split unit (single-group
    files: per file) — here the plain + snappy alltypes twins (same
    schema, different codec) in one distributed read; the tiny byte
    budget pins maximal fan-out."""
    df = pc.read_parquet_with_engine(
        spark,
        [
            f"{DATA}/alltypes_plain.parquet",
            f"{DATA}/alltypes_plain.snappy.parquet",
        ],
        columns=["id", "bigint_col"],
        target_split_bytes=1,
    )
    assert df.rdd.getNumPartitions() == 2
    rows = df.collect()
    assert len(rows) == 10  # 8 + 2
    assert {r["id"] for r in rows} == set(range(8))  # snappy twin has ids 0,1


def test_spark_distributed_row_group_splits(spark, tmp_path):
    """The split unit is the ROW GROUP, not the file: a 4-group engine-
    written file fans out to 4 decode tasks (what keeps one 10 GB file
    from serializing behind a single core), and the union of per-group
    decodes is exactly the whole table."""
    from engine import parquet_out as po

    n = 8000
    path = str(tmp_path / "multi_rg.parquet")
    po.write_table(
        path,
        [
            ("id", "int64", "DELTA_BINARY_PACKED",
             np.arange(n, dtype=np.int64), None),
            ("tag", "utf8", "PLAIN_DICTIONARY",
             po.flat_strings([f"t{i % 7}" for i in range(n)]), None),
        ],
        row_group_size=2000,
    )
    df = pc.read_parquet_with_engine(
        spark, path, columns=["id", "tag"], target_split_bytes=1
    )
    assert df.rdd.getNumPartitions() == 4
    rows = df.collect()
    assert len(rows) == n
    assert {r["id"] for r in rows} == set(range(n))
    assert {bytes(r["tag"]) for r in rows} == {f"t{i}".encode() for i in range(7)}

    # multi-file: units from DIFFERENT files must still land one per task
    # (round-robin repartition could collide streams; the ledger path
    # guarantees placement) — every partition holds exactly one group
    twin = str(tmp_path / "multi_rg_twin.parquet")
    import shutil

    shutil.copy(path, twin)
    df2 = pc.read_parquet_with_engine(
        spark, [path, twin], columns=["id"], target_split_bytes=1
    )
    assert df2.rdd.getNumPartitions() == 8
    per_part = df2.rdd.glom().map(len).collect()
    assert sorted(per_part) == [2000] * 8
    assert df2.count() == 2 * n

    # the default 128 MB budget COALESCES these tiny groups into one task
    # (the other scale failure mode: 10k tiny groups != 10k task
    # launches), and an intermediate budget packs adjacent groups
    df3 = pc.read_parquet_with_engine(spark, [path, twin], columns=["id"])
    assert df3.rdd.getNumPartitions() == 1
    assert df3.count() == 2 * n
    one_rg_bytes = max(
        c.total_compressed
        for c in pc.read_file_info(path).columns
        if c.path == "id"
    )
    df4 = pc.read_parquet_with_engine(
        spark, [path, twin], columns=["id"],
        target_split_bytes=2 * one_rg_bytes + one_rg_bytes // 2,
    )
    assert df4.rdd.getNumPartitions() == 4  # 8 units -> 4 two-group bins
    assert sorted(df4.rdd.glom().map(len).collect()) == [4000] * 4


def test_bit_packed_v1_levels_decode():
    """Deprecated BIT_PACKED level encoding (MSB-first, no length prefix —
    parquet.thrift Encoding.BIT_PACKED; reference LevelDecoder
    src/encodings/levels.rs:57,76-80): a hand-built v1 page per the spec
    text, since no modern writer emits it. Def levels 1,0,1,1,0,1,1,1,0,1
    at width 1 pack MSB-first into 0b10110111 0b01000000."""
    import struct as _struct

    from engine import parquet_out as po

    defs = [1, 0, 1, 1, 0, 1, 1, 1, 0, 1]
    packed = bytes([0b10110111, 0b01000000])
    dense = np.arange(7, dtype=np.int32)  # seven present values
    values = dense.tobytes()
    body = packed + values
    hdr = po._tstruct(
        [
            (1, po._CT_I32, 0),  # DATA_PAGE
            (2, po._CT_I32, len(body)),
            (3, po._CT_I32, len(body)),
            (
                5,
                po._CT_STRUCT,
                [
                    (1, po._CT_I32, len(defs)),
                    (2, po._CT_I32, 0),  # PLAIN
                    (3, po._CT_I32, 4),  # definition levels BIT_PACKED
                    (4, po._CT_I32, 3),  # repetition levels RLE (absent)
                ],
            ),
        ]
    )
    chunk = hdr + body
    col = pc.ColumnInfo(
        path="x", phys="int32", type_length=0, max_def=1, max_rep=0,
        encodings=[], codec=None, num_values=len(defs), start_offset=0,
        total_compressed=len(chunk),
    )
    vals, got_defs, reps = pc.read_column_with_levels(
        "<synthetic>", col, chunk=chunk
    )
    assert got_defs.tolist() == defs
    assert vals.tolist() == list(range(7))
    # unknown level encoding still fails clean
    bad_hdr = po._tstruct(
        [
            (1, po._CT_I32, 0),
            (2, po._CT_I32, len(body)),
            (3, po._CT_I32, len(body)),
            (
                5,
                po._CT_STRUCT,
                [
                    (1, po._CT_I32, len(defs)),
                    (2, po._CT_I32, 0),
                    (3, po._CT_I32, 9),  # bogus level encoding
                    (4, po._CT_I32, 3),
                ],
            ),
        ]
    )
    with pytest.raises(ValueError, match="level encoding"):
        pc.read_column_with_levels(
            "<synthetic>", col, chunk=bad_hdr + body
        )


def test_uint_converted_types_read(tmp_path):
    """UINT_8/16/32 converted types (the reference carries them for
    back-compat, src/basic.rs:56-146): UINT_32's stored int32 bit pattern
    reinterprets as unsigned (0xFFFFFFFF -> 4294967295, not -1); UINT_8/16
    already sit non-negative in int32; UINT_64 stays two's-complement
    int64 (n/a by design, like the write side)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "u.parquet")
    pq.write_table(
        pa.table(
            {
                "u32": pa.array([0, 1, 2**31, 2**32 - 1, None], pa.uint32()),
                "u8": pa.array([0, 255, 7, 1, None], pa.uint8()),
            }
        ),
        path,
    )
    tab = pc.read_table(path)
    u, valid = tab["u32"]
    assert u[:4].tolist() == [0, 1, 2**31, 2**32 - 1]
    assert not valid[4]
    assert tab["u8"][0][1] == 255


def test_uint32_pruning_uses_unsigned_domain(tmp_path):
    """UINT_32 pruning comparisons happen in the UNSIGNED domain (r7
    review: signed stat decode silently pruned groups/pages holding
    values above 2^31 — reproduced returning 0 of 100 matching rows);
    covers both the legacy converted-type and the LogicalType-only
    annotation."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "u32.parquet")
    vals = list(range(2_500_000_000, 2_500_002_000))
    pq.write_table(
        pa.table({"u32": pa.array(vals, pa.uint32())}),
        path,
        write_page_index=True,
        data_page_size=2048,
    )
    col = pc.read_file_info(path).columns[0]
    assert col.conv in (13,)  # normalized whichever annotation was written
    tab, pr, pt = pc.read_table_pruned(
        path,
        ("u32", 2_500_000_100, 2_500_000_199),
        columns=["u32"],
    )
    assert tab["u32"][0].tolist() == vals[100:200]
    assert pr < pt  # and it still PRUNES, in the unsigned order
