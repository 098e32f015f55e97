"""Writer-side parquet interop (engine/parquet_out.py): files written by
the engine's codecs + thrift-compact footer must be read back correctly by
pyarrow, DuckDB, the engine's own foreign-parquet reader, and Spark's JVM
parquet reader."""

import numpy as np
import pytest

from engine import parquet_compat as pc
from engine import parquet_out as po


def _mixed_columns(n=5000, seed=0):
    rng = np.random.default_rng(seed)
    ints = rng.integers(-(2**31), 2**31, n).astype(np.int32)
    sorted64 = np.sort(rng.integers(0, 2**40, n)).astype(np.int64)
    doubles = rng.standard_normal(n)
    floats = rng.standard_normal(n).astype(np.float32)
    bools = rng.integers(0, 2, n) > 0
    cats = [f"cat-{i % 7}" for i in range(n)]
    ids = [f"doc-{i:08d}" for i in range(n)]
    valid = rng.integers(0, 4, n) > 0
    nullable = rng.integers(0, 1000, n).astype(np.int32)
    cols = [
        ("a_int32", "int32", "PLAIN", ints, None),
        ("b_delta64", "int64", "DELTA_BINARY_PACKED", sorted64, None),
        ("c_double", "float64", "PLAIN", doubles, None),
        ("d_float", "float32", "PLAIN", floats, None),
        ("e_bool_plain", "bool", "PLAIN", bools, None),
        ("f_bool_rle", "bool", "RLE", bools, None),
        ("g_dict", "utf8", "PLAIN_DICTIONARY", po.flat_strings(cats), None),
        ("h_dlba", "utf8", "DELTA_LENGTH_BYTE_ARRAY", po.flat_strings(ids), None),
        ("i_dba", "utf8", "DELTA_BYTE_ARRAY", po.flat_strings(ids), None),
        ("j_dict_int", "int32", "PLAIN_DICTIONARY", ints % 13, None),
        ("k_nullable", "int32", "PLAIN", nullable, valid),
    ]
    expect = {
        "a_int32": ints,
        "b_delta64": sorted64,
        "c_double": doubles,
        "d_float": floats,
        "e_bool_plain": bools,
        "f_bool_rle": bools,
        "g_dict": cats,
        "h_dlba": ids,
        "i_dba": ids,
        "j_dict_int": ints % 13,
        "k_nullable": [
            int(v) if ok else None for v, ok in zip(nullable, valid)
        ],
    }
    return cols, expect


@pytest.mark.parametrize("codec", [None, "snappy", "gzip", "zstd"])
def test_pyarrow_reads_engine_written_parquet(tmp_path, codec):
    """Every write encoding x 4 codecs, verified by an independent reader:
    exact values incl. null slots, UTF8 columns surfacing as str."""
    import pyarrow.parquet as pq

    cols, expect = _mixed_columns()
    path = str(tmp_path / "t.parquet")
    info = po.write_table(path, cols, codec=codec)
    assert info["rows"] == 5000
    t = pq.read_table(path)
    assert t.num_rows == 5000
    for name, want in expect.items():
        got = t.column(name).to_pylist()
        if isinstance(want, np.ndarray) and want.dtype.kind == "f":
            assert np.allclose(got, want), name
        else:
            want_list = list(want) if not isinstance(want, list) else want
            assert got == [
                (v.item() if isinstance(v, np.generic) else v)
                for v in want_list
            ], name


def test_duckdb_reads_engine_written_parquet(tmp_path):
    import duckdb

    cols, expect = _mixed_columns()
    path = str(tmp_path / "t.parquet")
    po.write_table(path, cols, codec="snappy")
    row = duckdb.sql(
        f"SELECT count(*), sum(a_int32), min(g_dict), max(h_dlba), "
        f"count(k_nullable) FROM read_parquet('{path}')"
    ).fetchone()
    assert row[0] == 5000
    assert row[1] == int(np.asarray(expect["a_int32"], np.int64).sum())
    assert row[2] == "cat-0" and row[3] == "doc-00004999"
    assert row[4] == sum(v is not None for v in expect["k_nullable"])


def test_engine_reader_round_trips_engine_writer(tmp_path):
    """The foreign-parquet reader consumes the writer's output through the
    same thrift/page/grammar code paths used on the golden files."""
    cols, expect = _mixed_columns(n=1000, seed=3)
    path = str(tmp_path / "t.parquet")
    po.write_table(path, cols)
    ours = pc.read_table(path)
    vals, valid = ours["b_delta64"]
    assert (vals == expect["b_delta64"]).all() and valid.all()
    g, _ = ours["g_dict"]
    assert [v.decode() for v in g] == expect["g_dict"]
    vals, valid = ours["k_nullable"]
    got = [vals[i] if ok else None for i, ok in enumerate(valid)]
    assert got == expect["k_nullable"]
    info = pc.read_file_info(path)
    assert info.num_rows == 1000
    assert "DELTA_BYTE_ARRAY" in {
        e for c in info.columns for e in c.encodings
    }


def test_spark_jvm_reads_engine_written_parquet(spark, tmp_path):
    """Spark's built-in (JVM, vectorized) parquet reader — a third fully
    independent implementation — reads the engine-written file."""
    cols, expect = _mixed_columns(n=2000, seed=7)
    path = str(tmp_path / "t.parquet")
    po.write_table(path, cols, codec="snappy")
    df = spark.read.parquet(path)
    assert df.count() == 2000
    pdf = df.orderBy("b_delta64").toPandas()
    assert (pdf["b_delta64"].to_numpy() == np.sort(expect["b_delta64"])).all()
    assert set(pdf["g_dict"]) == set(expect["g_dict"])
    assert pdf["k_nullable"].isna().sum() == sum(
        v is None for v in expect["k_nullable"]
    )
    assert dict(df.dtypes)["h_dlba"] == "string"


def test_writer_input_validation(tmp_path):
    path = str(tmp_path / "t.parquet")
    with pytest.raises(ValueError, match="rows"):
        po.write_table(
            path,
            [
                ("a", "int32", "PLAIN", np.arange(5, dtype=np.int32), None),
                ("b", "int32", "PLAIN", np.arange(6, dtype=np.int32), None),
            ],
        )
    with pytest.raises(ValueError, match="boolean-only"):
        po.write_table(
            path, [("a", "int32", "RLE", np.arange(5, dtype=np.int32), None)]
        )
    with pytest.raises(ValueError, match="dense"):
        po.write_table(
            path,
            [
                (
                    "s",
                    "utf8",
                    "PLAIN",
                    po.flat_strings(["x", "y", "z"]),
                    np.array([True, False, True]),
                )
            ],
        )


def test_dict_float_nan_preserved(tmp_path):
    """NaN in a PLAIN_DICTIONARY float column must survive as a REAL
    value: the default pd.factorize NA sentinel (-1) uint-wrapped into an
    arbitrary valid index and silently replaced NaN rows (r5 review #1)."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    vals = np.array([1.0, np.nan, 2.0, 1.0, np.nan])
    po.write_table(path, [("x", "float64", "PLAIN_DICTIONARY", vals, None)])
    got = pq.read_table(path).column("x").to_pylist()
    assert got[0] == 1.0 and got[2] == 2.0 and got[3] == 1.0
    assert np.isnan(got[1]) and np.isnan(got[4])


def test_lz4_written_as_raw_and_readable(tmp_path):
    """codec='lz4' must emit LZ4_RAW (parquet id 7): labeling pyarrow's
    LZ4-frame bytes as the deprecated hadoop id 5 produced unreadable
    files (r5 review #2). pyarrow + DuckDB + the engine reader all read
    it back."""
    import duckdb
    import pyarrow.parquet as pq

    cols, expect = _mixed_columns(n=500, seed=11)
    path = str(tmp_path / "t.parquet")
    po.write_table(path, cols, codec="lz4")
    # the footer must carry codec id 7 (our parser names it lz4_raw;
    # pyarrow 16 happens to DISPLAY id 7 as plain "LZ4")
    assert pc.read_file_info(path).columns[0].codec == "lz4_raw"
    md = pq.ParquetFile(path).metadata.row_group(0).column(0)
    assert md.compression in ("LZ4_RAW", "LZ4"), md.compression
    assert pq.read_table(path).column("h_dlba").to_pylist() == expect["h_dlba"]
    assert (
        duckdb.sql(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        == 500
    )
    g, _ = pc.read_table(path)["g_dict"]
    assert [v.decode() for v in g] == expect["g_dict"]


def test_hadoop_framed_lz4_read(tmp_path):
    """The engine reader handles the DEPRECATED parquet LZ4 codec (id 5):
    hadoop block framing [raw BE4][comp BE4][lz4_raw block] around each
    page. Synthesized by rewriting an uncompressed file's pages, since no
    golden file carries id 5."""
    import struct as _s

    import pyarrow as pa

    cols, expect = _mixed_columns(n=300, seed=13)
    plain_path = str(tmp_path / "plain.parquet")
    po.write_table(plain_path, cols[:3])
    # rebuild the same columns, compressing each page body hadoop-style
    info = pc.read_file_info(plain_path)
    codec = pa.Codec("lz4_raw")

    def hadoop(buf):
        comp = codec.compress(buf).to_pybytes()
        return _s.pack(">II", len(buf), len(comp)) + comp

    # easiest faithful synthesis: monkeypatch the writer's compressor
    orig_compress, orig_ids = po._compress, dict(po._CODEC_IDS)
    po._CODEC_IDS["lz4_hadoop_test"] = 5
    po._compress = lambda buf, c: hadoop(buf) if c == "lz4_hadoop_test" else orig_compress(buf, c)
    try:
        hpath = str(tmp_path / "hadoop.parquet")
        po.write_table(hpath, cols[:3], codec="lz4_hadoop_test")
    finally:
        po._compress = orig_compress
        po._CODEC_IDS.clear()
        po._CODEC_IDS.update(orig_ids)
    ours = pc.read_table(hpath)
    assert (ours["a_int32"][0] == expect["a_int32"][:300]).all()
    assert (ours["b_delta64"][0] == expect["b_delta64"][:300]).all()


def test_total_uncompressed_size_honest(tmp_path):
    """ColumnMetaData.total_uncompressed_size must be the real raw page
    bytes (incl. headers), not a copy of the compressed size (r5 review
    #4)."""
    import pyarrow.parquet as pq

    cols, _ = _mixed_columns(n=2000, seed=17)
    path = str(tmp_path / "t.parquet")
    po.write_table(path, [cols[7]], codec="zstd")  # very compressible ids
    md = pq.ParquetFile(path).metadata.row_group(0).column(0)
    assert md.total_uncompressed_size > md.total_compressed_size * 2, (
        md.total_uncompressed_size,
        md.total_compressed_size,
    )


def test_multi_row_group_write_and_read(tmp_path):
    """row_group_size splits output into bounded row groups (each with its
    own dictionary pages) — what keeps reader memory bounded at fleet
    scale; pyarrow, DuckDB and the engine reader (which concatenates
    groups) must all agree, nullable slicing included."""
    import duckdb
    import pyarrow.parquet as pq

    n = 10000
    rng = np.random.default_rng(4)
    ids = [f"doc-{i:07d}" for i in range(n)]
    valid = rng.integers(0, 3, n) > 0
    dense = rng.integers(0, 99, int(valid.sum())).astype(np.int32)
    kfull = np.zeros(n, np.int32)
    kfull[valid] = dense
    cols = [
        ("a", "int64", "DELTA_BINARY_PACKED", np.arange(n, dtype=np.int64), None),
        ("s", "utf8", "PLAIN_DICTIONARY",
         po.flat_strings([f"c{i % 9}" for i in range(n)]), None),
        ("d", "utf8", "DELTA_BYTE_ARRAY", po.flat_strings(ids), None),
        ("k", "int32", "PLAIN", kfull, valid),
    ]
    path = str(tmp_path / "multi.parquet")
    po.write_table(path, cols, codec="snappy", row_group_size=1500)
    md = pq.ParquetFile(path).metadata
    assert md.num_row_groups == 7 and md.num_rows == n
    t = pq.read_table(path)
    assert (np.asarray(t.column("a")) == np.arange(n)).all()
    assert t.column("d").to_pylist() == ids
    kn = t.column("k").to_pylist()
    assert sum(v is None for v in kn) == int((~valid).sum())
    assert [v for v in kn if v is not None] == [int(v) for v in dense]
    ours = pc.read_table(path)
    a, _ = ours["a"]
    assert (a == np.arange(n)).all()
    d, _ = ours["d"]
    assert [v.decode() for v in d] == ids
    kv, kval = ours["k"]
    assert (kval == valid).all()
    assert [int(kv[i]) for i in range(n) if kval[i]] == [int(v) for v in dense]
    assert duckdb.sql(
        f"SELECT count(*), count(k) FROM read_parquet('{path}')"
    ).fetchone() == (n, int(valid.sum()))


def test_engine_reads_pyarrow_multi_row_group(tmp_path):
    """The reader concatenates row groups of a PYARROW-written file — a
    fourth independent writer (parquet-cpp) with modern RLE_DICTIONARY
    pages."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 10000
    t = pa.table(
        {
            "a": pa.array(np.arange(n, dtype=np.int64)),
            "s": pa.array([f"v-{i % 50}" for i in range(n)]),
        }
    )
    path = str(tmp_path / "rg.parquet")
    pq.write_table(t, path, row_group_size=1234)
    assert pq.ParquetFile(path).metadata.num_row_groups == 9
    ours = pc.read_table(path)
    a, va = ours["a"]
    assert (a == np.arange(n)).all() and va.all()
    s, _ = ours["s"]
    assert [v.decode() for v in s] == [f"v-{i % 50}" for i in range(n)]


def test_auto_encoding_resolves_per_shape(tmp_path):
    """encoding='AUTO' routes through the engine's codec selector and
    lands the right parquet encoding per column shape: sorted ints ->
    DELTA_BINARY_PACKED, low-cardinality strings -> PLAIN_DICTIONARY,
    sorted strings -> DELTA_BYTE_ARRAY, run-structured bools -> RLE,
    full-range ints -> PLAIN. Values still round-trip through pyarrow."""
    import pyarrow.parquet as pq

    n = 20000
    rng = np.random.default_rng(1)
    sorted_ids = np.arange(10_000_000, 10_000_000 + n, dtype=np.int64)
    lowcard = [f"src-{i % 5}" for i in range(n)]
    sortedstr = [f"user-{i:09d}" for i in range(n)]
    runs = np.repeat(rng.integers(0, 2, 50) > 0, n // 50)
    rand32 = rng.integers(-(2**31), 2**31, n).astype(np.int32)
    cols = [
        ("ids", "int64", "AUTO", sorted_ids, None),
        ("src", "utf8", "AUTO", po.flat_strings(lowcard), None),
        ("user", "utf8", "AUTO", po.flat_strings(sortedstr), None),
        ("flag", "bool", "AUTO", runs, None),
        ("r", "int32", "AUTO", rand32, None),
    ]
    path = str(tmp_path / "auto.parquet")
    po.write_table(path, cols)
    encs = {c.path: set(c.encodings) for c in pc.read_file_info(path).columns}
    assert "DELTA_BINARY_PACKED" in encs["ids"]
    assert "PLAIN_DICTIONARY" in encs["src"]
    assert "DELTA_BYTE_ARRAY" in encs["user"]
    assert encs["flag"] == {"RLE"}
    assert "PLAIN" in encs["r"] and "DELTA_BINARY_PACKED" not in encs["r"]
    t = pq.read_table(path)
    assert (np.asarray(t.column("ids")) == sorted_ids).all()
    assert t.column("user").to_pylist() == sortedstr
    assert (np.asarray(t.column("flag")) == runs).all()
    assert (np.asarray(t.column("r")) == rand32).all()


def test_row_group_statistics_enable_pruning(tmp_path):
    """write_table emits per-row-group min_value/max_value/null_count
    Statistics AND the column_orders footer field — without TypeDefinedOrder
    readers distrust v2 stats entirely. pyarrow surfaces the bounds and its
    filtered read prunes to the matching groups; Spark and DuckDB filter
    correctly over the same file."""
    import duckdb
    import pyarrow.parquet as pq

    n = 10000
    valid = np.arange(n) % 3 > 0
    full = np.arange(n, dtype=np.int64)
    cols = [
        ("a", "int64", "AUTO", full, None),
        ("s", "utf8", "AUTO",
         po.flat_strings([f"k-{i:06d}" for i in range(n)]), None),
        ("f", "float64", "PLAIN", np.linspace(-5, 5, n), None),
        ("k", "int64", "PLAIN", full, valid),
    ]
    path = str(tmp_path / "stats.parquet")
    po.write_table(path, cols, row_group_size=2500)
    md = pq.ParquetFile(path).metadata
    st = md.row_group(0).column(0).statistics
    assert st.has_min_max and (st.min, st.max) == (0, 2499)
    assert md.row_group(3).column(0).statistics.max == 9999
    s1 = md.row_group(1).column(1).statistics
    assert (s1.min, s1.max) == ("k-002500", "k-004999")
    f0 = md.row_group(0).column(2).statistics
    assert abs(f0.min - (-5.0)) < 1e-9
    k0 = md.row_group(0).column(3).statistics
    assert k0.null_count == int((~valid[:2500]).sum())
    # stats actually prune: the filter touches only the last group
    t = pq.read_table(path, filters=[("a", ">=", 9000)])
    assert t.num_rows == 1000
    assert duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{path}') WHERE a >= 9000"
    ).fetchone() == (1000,)


def test_nan_group_skips_min_max(tmp_path):
    """Float groups containing NaN omit min/max (NaN ordering is undefined
    in the spec) but keep null_count — matching parquet-mr."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "nan.parquet")
    vals = np.array([1.0, np.nan, 3.0])
    po.write_table(path, [("f", "float64", "PLAIN", vals, None)])
    st = pq.ParquetFile(path).metadata.row_group(0).column(0).statistics
    assert not st.has_min_max
    assert st.null_count == 0


def test_auto_prefix_sorted_strings_pick_front_coding(tmp_path):
    """Prefix-sorted URL-like keys must land DELTA_BYTE_ARRAY: the fsst
    candidate is excluded from the selector argmin BEFORE it runs, not
    remapped after winning (which systematically picked delta-length, the
    selector's own worst estimate for this shape; r5 review pass 2 #3)."""
    n = 4000
    urls = [f"https://example.com/user/{i:09d}/profile" for i in range(n)]
    path = str(tmp_path / "urls.parquet")
    po.write_table(path, [("u", "utf8", "AUTO", po.flat_strings(urls), None)])
    encs = set(pc.read_file_info(path).columns[0].encodings)
    assert "DELTA_BYTE_ARRAY" in encs, encs
    import pyarrow.parquet as pq

    assert pq.read_table(path).column("u").to_pylist() == urls


def test_byte_stream_split_both_directions(tmp_path):
    """BYTE_STREAM_SPLIT (parquet's float codec: value bytes transposed
    into per-significance streams so exponent/sign bytes compress
    together): the engine reads pyarrow-written BSS pages and pyarrow/
    DuckDB/the engine read engine-written ones — bit-exact both ways,
    across row groups, for float32/float64/int64."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(0)
    f64 = rng.standard_normal(5000)
    f32 = rng.standard_normal(5000).astype(np.float32)
    i64 = rng.integers(-(2**40), 2**40, 5000)

    pa_path = str(tmp_path / "bss_pa.parquet")
    pq.write_table(
        pa.table({"f64": pa.array(f64), "f32": pa.array(f32, pa.float32())}),
        pa_path,
        use_dictionary=False,
        use_byte_stream_split=["f64", "f32"],
        compression="zstd",
    )
    ours = pc.read_table(pa_path)
    assert (ours["f64"][0] == f64).all() and (ours["f32"][0] == f32).all()

    po_path = str(tmp_path / "bss_po.parquet")
    po.write_table(
        po_path,
        [
            ("f64", "float64", "BYTE_STREAM_SPLIT", f64, None),
            ("f32", "float32", "BYTE_STREAM_SPLIT", f32, None),
            ("i64", "int64", "BYTE_STREAM_SPLIT", i64, None),
        ],
        codec="zstd",
        row_group_size=1700,
    )
    t = pq.read_table(po_path)
    assert (np.asarray(t.column("f64")) == f64).all()
    assert (np.asarray(t.column("f32")) == f32).all()
    assert (np.asarray(t.column("i64")) == i64).all()
    assert duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{po_path}')"
    ).fetchone() == (5000,)
    ours2 = pc.read_table(po_path)
    assert (ours2["f64"][0] == f64).all()
    with pytest.raises(ValueError, match="BYTE_STREAM_SPLIT"):
        po.write_table(
            str(tmp_path / "x.parquet"),
            [("s", "utf8", "BYTE_STREAM_SPLIT", po.flat_strings(["a"]), None)],
        )


def test_data_page_v2_write_and_modern_reader_read(tmp_path):
    """data_page_version=2 writes DataPageV2 (levels sectioned outside
    the compressed area, lengths + null count in the header — the page
    form arrow/parquet-mr default to); pyarrow, DuckDB and the engine
    reader consume it across codecs, nullable columns and row groups.
    Conversely the engine reader handles pyarrow's own v2 output."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(0)
    n = 6000
    valid = rng.integers(0, 4, n) > 0
    kfull = np.zeros(n, np.int32)
    kfull[valid] = rng.integers(0, 999, int(valid.sum()))
    ids = [f"doc-{i:07d}" for i in range(n)]
    cols = [
        ("a", "int64", "AUTO", np.arange(n, dtype=np.int64), None),
        ("d", "utf8", "DELTA_BYTE_ARRAY", po.flat_strings(ids), None),
        ("k", "int32", "PLAIN", kfull, valid),
        ("f", "float64", "BYTE_STREAM_SPLIT", rng.standard_normal(n), None),
    ]
    path = str(tmp_path / "v2.parquet")
    for codec in (None, "zstd"):
        po.write_table(
            path, cols, codec=codec, row_group_size=2100, data_page_version=2
        )
        t = pq.read_table(path)
        assert (np.asarray(t.column("a")) == np.arange(n)).all()
        assert t.column("d").to_pylist() == ids
        kn = t.column("k").to_pylist()
        assert sum(v is None for v in kn) == int((~valid).sum())
        ours = pc.read_table(path)
        kv, kval = ours["k"]
        assert (kval == valid).all()
        assert duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{path}')"
        ).fetchone() == (n,)

    # the reverse direction: pyarrow-written v2 pages (RLE_DICTIONARY,
    # zstd, nullable, multi-group) decode with the engine reader
    pa_path = str(tmp_path / "v2_pa.parquet")
    t2 = pa.table(
        {
            "s": pa.array([f"v-{i % 37}" for i in range(n)]),
            "k": pa.array(
                [int(v) if v % 3 else None for v in range(n)], pa.int32()
            ),
        }
    )
    pq.write_table(
        t2, pa_path, data_page_version="2.0", compression="zstd",
        row_group_size=2500,
    )
    ours = pc.read_table(pa_path)
    s, _ = ours["s"]
    assert [v.decode() for v in s] == [f"v-{i % 37}" for i in range(n)]
    kv, kval = ours["k"]
    got = [int(kv[i]) if kval[i] else None for i in range(n)]
    assert got == [int(v) if v % 3 else None for v in range(n)]


def test_data_page_v2_dictionary_advertises_rle_dictionary(tmp_path):
    """v2 dictionary columns must declare RLE_DICTIONARY data pages with
    a PLAIN dictionary page (PLAIN_DICTIONARY is deprecated for v2);
    pyarrow, DuckDB and the engine reader all consume the result."""
    import duckdb
    import pyarrow.parquet as pq

    n = 4000
    vals = [f"c{i % 9}" for i in range(n)]
    path = str(tmp_path / "v2dict.parquet")
    po.write_table(
        path,
        [("s", "utf8", "PLAIN_DICTIONARY", po.flat_strings(vals), None)],
        codec="zstd",
        data_page_version=2,
    )
    md = pq.ParquetFile(path).metadata.row_group(0).column(0)
    assert "RLE_DICTIONARY" in md.encodings and "PLAIN" in md.encodings
    assert "PLAIN_DICTIONARY" not in md.encodings
    assert pq.read_table(path).column("s").to_pylist() == vals
    s, _ = pc.read_table(path)["s"]
    assert [v.decode() for v in s] == vals
    assert duckdb.sql(
        f"SELECT count(DISTINCT s) FROM read_parquet('{path}')"
    ).fetchone() == (9,)


def test_logical_date_and_timestamp_annotations(tmp_path):
    """'date' and 'timestamp_us' logical aliases annotate int32/int64
    columns with ConvertedType DATE / TIMESTAMP_MICROS, so readers
    surface real date32/timestamp types; values ride any int encoding
    (delta here)."""
    import duckdb
    import pyarrow.parquet as pq

    n = 1000
    days = np.arange(19000, 19000 + n, dtype=np.int32)
    micros = np.int64(1_700_000_000_000_000) + np.arange(n, dtype=np.int64) * 1_000_000
    millis = micros // 1000
    path = str(tmp_path / "logical.parquet")
    po.write_table(
        path,
        [
            ("d", "date", "PLAIN", days, None),
            ("ts", "timestamp_us", "DELTA_BINARY_PACKED", micros, None),
            ("tsm", "timestamp_ms", "DELTA_BINARY_PACKED", millis, None),
        ],
    )
    t = pq.read_table(path)
    assert str(t.schema.field("d").type) == "date32[day]"
    assert str(t.schema.field("ts").type).startswith("timestamp[us")
    assert str(t.schema.field("tsm").type).startswith("timestamp[ms")
    assert t.column("d").cast("int32").to_pylist() == days.tolist()
    assert t.column("ts").cast("int64").to_pylist() == micros.tolist()
    assert t.column("tsm").cast("int64").to_pylist() == millis.tolist()
    lo, hi, hm = duckdb.sql(
        f"SELECT CAST(min(d) AS VARCHAR), CAST(epoch_us(max(ts)) AS BIGINT), "
        f"CAST(epoch_ms(max(tsm)) AS BIGINT) "
        f"FROM read_parquet('{path}')"
    ).fetchone()
    assert lo == "2022-01-08" and hi == int(micros[-1]) and hm == int(millis[-1])


def test_spark_rejects_bss_documented(spark, tmp_path):
    """Documented interop boundary: Spark's vectorized reader (4.1) does
    not support BYTE_STREAM_SPLIT — pyarrow/DuckDB do. Pin the behavior
    so a future Spark upgrade that adds support shows up as this test
    failing (then BSS can join the Spark-facing export paths)."""
    import pytest as _pytest

    path = str(tmp_path / "bss.parquet")
    po.write_table(
        path,
        [("f", "float64", "BYTE_STREAM_SPLIT", np.arange(100, dtype=np.float64), None)],
    )
    with _pytest.raises(Exception, match="BYTE_STREAM_SPLIT|FAILED_READ"):
        spark.read.parquet(path).collect()


def test_byte_array_stats_arrow_ordering_parity():
    """The vectorized Arrow min_max pass must order binary exactly like
    Python bytes comparison (unsigned lexicographic, prefix-is-smaller) —
    fuzzed over empty / prefix / 0xFF edge values. A divergence here
    would write wrong stats bounds and silently mis-prune readers."""
    rng = np.random.default_rng(42)
    for trial in range(60):
        vals = [
            bytes(rng.integers(0, 256, rng.integers(0, 8), dtype=np.uint8))
            for _ in range(int(rng.integers(1, 30)))
        ]
        if trial % 3 == 0:
            vals += [b"", b"\xff", b"\xff\x00", b"a", b"ab"]
        lens = np.array([len(v) for v in vals], np.int64)
        s = po._column_stats("byte_array", (lens, b"".join(vals)))
        lo, hi = min(vals), max(vals)
        assert s["min"] == lo[:64]
        # max is truncated-and-incremented only when over the cap
        if len(hi) <= 64:
            assert s["max"] == hi
        else:
            assert s["max"] >= hi[: len(s["max"])] and len(s["max"]) <= 64


def test_dictionary_page_size_fallback(tmp_path):
    """A dictionary page over dict_page_size_limit falls back to PLAIN
    for the whole group (parquet-mr's dict_fallback, one-shot form;
    reference src/column/writer.rs add_data_page/dict_fallback) — and the
    file stays exactly readable."""
    import pyarrow.parquet as pq

    n = 5000
    vals = [f"unique-value-{i:08d}" for i in range(n)]  # all distinct
    path = str(tmp_path / "fb.parquet")
    po.write_table(
        path,
        [("s", "utf8", "PLAIN_DICTIONARY", po.flat_strings(vals), None)],
        dict_page_size_limit=1024,
    )
    md = pq.ParquetFile(path).metadata.row_group(0).column(0)
    assert "PLAIN_DICTIONARY" not in str(md.encodings)
    assert "RLE_DICTIONARY" not in str(md.encodings)
    assert pq.read_table(path).column("s").to_pylist() == vals

    # under the default limit the dictionary is kept
    low = [f"k{i % 5}" for i in range(n)]
    path2 = str(tmp_path / "keep.parquet")
    po.write_table(
        path2,
        [("s", "utf8", "PLAIN_DICTIONARY", po.flat_strings(low), None)],
    )
    md2 = pq.ParquetFile(path2).metadata.row_group(0).column(0)
    assert "PLAIN_DICTIONARY" in str(md2.encodings)
    assert pq.read_table(path2).column("s").to_pylist() == low


@pytest.mark.parametrize("version", [1, 2])
def test_mid_chunk_dict_fallback(tmp_path, version):
    """Mid-chunk dict_fallback parity (VERDICT r6 #5; reference
    src/column/writer.rs:392-420, parquet-mr FallbackValuesWriter): when
    the dictionary overflows partway through a multi-page chunk, the
    already-dictionary-encoded page prefix STAYS dict-encoded (dict page
    truncated to exactly the uniques that prefix saw) and the SAME chunk
    continues with PLAIN pages — pyarrow/DuckDB read the mixed chunk,
    the chunk's encodings list carries both, and the file beats the old
    whole-group-PLAIN rewrite on size."""
    import duckdb
    import pyarrow.parquet as pq

    n = 10000
    vals = [
        f"k{i % 50:03d}" if i < 5000 else f"unique-{i:08d}-{'x' * 40}"
        for i in range(n)
    ]
    path = str(tmp_path / "mixed.parquet")
    po.write_table(
        path,
        [("s", "utf8", "PLAIN_DICTIONARY", po.flat_strings(vals), None)],
        page_size_rows=1000,
        dict_page_size_limit=4096,
        data_page_version=version,
    )
    plain_path = str(tmp_path / "plain.parquet")
    po.write_table(
        plain_path,
        [("s", "utf8", "PLAIN", po.flat_strings(vals), None)],
        page_size_rows=1000,
        data_page_version=version,
    )
    import os

    assert os.path.getsize(path) < os.path.getsize(plain_path)
    encs = str(pq.ParquetFile(path).metadata.row_group(0).column(0).encodings)
    assert "DICTIONARY" in encs and "PLAIN" in encs
    assert pq.read_table(path).column("s").to_pylist() == vals
    got = duckdb.sql(f"SELECT s FROM read_parquet('{path}')").fetchall()
    assert [r[0] for r in got] == vals
    tab = pc.read_table(path)
    assert [x.decode() for x in tab["s"][0]] == vals


def test_mid_chunk_dict_fallback_nullable(tmp_path):
    """Null slots pass through the mixed dict+PLAIN chunk unchanged."""
    import pyarrow.parquet as pq

    n = 6000
    base = [
        f"k{i % 30}" if i < 3000 else f"u-{i:08d}-{'y' * 30}"
        for i in range(n)
    ]
    valid = np.ones(n, bool)
    valid[::7] = False
    dense = po.flat_strings([s for s, v in zip(base, valid) if v])
    path = str(tmp_path / "nul.parquet")
    po.write_table(
        path,
        [("s", "utf8", "PLAIN_DICTIONARY", dense, valid)],
        page_size_rows=1000,
        dict_page_size_limit=2048,
    )
    want = [s if v else None for s, v in zip(base, valid)]
    assert pq.read_table(path).column("s").to_pylist() == want
    tab = pc.read_table(path)
    got = [x.decode() if x is not None else None for x in tab["s"][0]]
    assert got == want


@pytest.mark.parametrize("version", [1, 2])
def test_encoding_stats_and_sorting_columns(tmp_path, version):
    """ColumnMetaData.encoding_stats (field 13 — Spark's vectorized
    reader consults it for the dictionary-only fast path, and it is how
    readers see a mixed dict+PLAIN chunk without scanning page headers)
    and RowGroup.sorting_columns (field 4) are written and parse back
    through pyarrow; the compaction merge carries field 13 verbatim."""
    import pyarrow.parquet as pq

    from engine import compact as cp

    n = 10000
    ids = np.arange(n, dtype=np.int64)
    strs = po.flat_strings(
        [
            f"k{i % 50:03d}" if i < 5000 else f"u-{i:08d}-{'x' * 40}"
            for i in range(n)
        ]
    )
    path = str(tmp_path / "es.parquet")
    po.write_table(
        path,
        [
            ("id", "int64", "DELTA_BINARY_PACKED", ids, None),
            ("s", "utf8", "PLAIN_DICTIONARY", strs, None),
        ],
        page_size_rows=1000,
        dict_page_size_limit=4096,  # forces the mid-chunk fallback on s
        data_page_version=version,
        sorting_columns=[("id", False, False)],
    )
    rg = pq.ParquetFile(path).metadata.row_group(0)
    (sc,) = rg.sorting_columns
    assert (sc.column_index, sc.descending, sc.nulls_first) == (0, False, False)
    # field 13 via the typed footer parser: the string chunk reports BOTH
    # a dictionary-encoded page count and PLAIN continuation pages
    meta = cp._read_footer_typed(path)
    rg_t = cp._fget(meta, 4)[1][0]
    s_chunk = cp._fget(rg_t, 1)[1][1]
    stats13 = cp._fget(cp._fget(s_chunk, 3), 13)
    assert stats13 is not None
    entries = {
        (cp._fget(e, 1), cp._fget(e, 2)): cp._fget(e, 3)
        for e in stats13[1]
    }
    dict_pages = [n for (pt, _), n in entries.items() if pt == 2]
    data_encs = {enc for (pt, enc), _ in entries.items() if pt != 2}
    assert dict_pages == [1]
    assert 0 in data_encs  # PLAIN continuation pages recorded
    assert sum(n for (pt, _), n in entries.items() if pt != 2) == 10
    # merge carries the stats and the file still reads everywhere
    out = str(tmp_path / "merged.parquet")
    cp.merge_row_groups([(path, 0)], out)
    assert pq.read_table(out).column("id").to_pylist() == ids.tolist()
