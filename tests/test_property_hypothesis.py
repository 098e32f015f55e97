"""Property-based round-trips (hypothesis): adversarial inputs the fixed
regimes may miss — random run/alignment structures for the RLE state
machine, arbitrary int32 (incl. boundary values) for delta wrapping,
arbitrary byte strings for FSST/byte-array codecs — plus differential tests
of the hybrid RLE/bit-packed kernels and ``bitpack.unpack`` against the
earlier implementations kept in ``_kernel_oracle``."""

import numpy as np
from hypothesis import given, settings, strategies as st

from engine import chunk
from engine.codecs import bitpack, bytearrays, delta_for, dictionary, fsst, rle

import _kernel_oracle

settings.register_profile("engine", max_examples=60, deadline=None)
settings.load_profile("engine")


# random run-structured sequences: list of (value, run_length)
runs_strategy = st.lists(
    st.tuples(st.integers(0, 255), st.integers(1, 40)), min_size=0, max_size=60
)


@given(runs=runs_strategy, width=st.sampled_from([1, 2, 4, 8, 12, 16]))
def test_rle_roundtrip_arbitrary_runs(runs, width):
    vals = (
        np.repeat(
            np.array([v % (1 << width) for v, _ in runs], np.uint64),
            np.array([r for _, r in runs], np.int64),
        )
        if runs
        else np.empty(0, np.uint64)
    )
    buf = rle.encode(vals, width)
    np.testing.assert_array_equal(rle.decode(buf, width, len(vals)), vals)


# --- differential: the engine's hybrid kernels vs the pre-vectorization ones --

hybrid_widths = st.sampled_from(list(range(33)) + [64])
# (value, run length): lengths past 504 cross bit-packed run splits
long_runs_strategy = st.lists(
    st.tuples(st.integers(0, (1 << 64) - 1), st.integers(1, 600)), min_size=0, max_size=40
)


def _masked_runs(runs, width):
    mask = (1 << width) - 1
    vals = [v & mask for v, _ in runs]
    return np.repeat(np.array(vals, np.uint64), [r for _, r in runs]).astype(np.uint64)


@given(runs=long_runs_strategy, width=hybrid_widths)
def test_rle_encode_matches_oracle(runs, width):
    vals = _masked_runs(runs, width)
    buf = rle.encode(vals, width)
    assert buf == _kernel_oracle.encode(vals, width)
    out = rle.decode(buf, width, len(vals))
    np.testing.assert_array_equal(out, vals)
    np.testing.assert_array_equal(out, _kernel_oracle.decode(buf, width, len(vals)))


# a hand-built stream: RLE runs (count, value) and bit-packed runs (groups,
# values) in any order, including shapes the encoder never emits
stream_runs = st.lists(
    st.one_of(
        st.tuples(st.just("rle"), st.integers(0, 300), st.integers(0, (1 << 64) - 1)),
        st.tuples(st.just("bp"), st.integers(0, 70), st.integers(0, 2**32)),
    ),
    min_size=1,
    max_size=12,
)


@given(runs=stream_runs, width=hybrid_widths, data=st.data())
def test_rle_decode_matches_oracle(runs, width, data):
    mask = (1 << width) - 1
    parts, total = [], 0
    for kind, count, seed in runs:
        if kind == "rle":
            parts.append(bitpack.uleb128_encode(count << 1))
            parts.append((seed & mask).to_bytes((width + 7) // 8, "little"))
            total += count
        else:
            vals = np.random.default_rng(seed).integers(0, 1 << 63, 8 * count, dtype=np.uint64)
            parts.append(bitpack.uleb128_encode(count << 1 | 1))
            parts.append(bitpack.pack(vals & np.uint64(mask), width))
            total += 8 * count
    buf = b"".join(parts)
    n = data.draw(st.integers(0, total))
    np.testing.assert_array_equal(
        rle.decode(buf, width, n), _kernel_oracle.decode(buf, width, n)
    )


@given(
    vals=st.lists(st.integers(0, (1 << 64) - 1), min_size=0, max_size=200),
    width=st.integers(1, 64),
    extra=st.binary(max_size=9),
)
def test_unpack_matches_oracle(vals, width, extra):
    arr = np.array([v & ((1 << width) - 1) for v in vals], np.uint64)
    buf = bitpack.pack(arr, width) + extra
    out = bitpack.unpack(buf, width, len(arr))
    np.testing.assert_array_equal(out, arr)
    np.testing.assert_array_equal(out, _kernel_oracle.unpack(buf, width, len(arr)))


int32s = st.integers(-(2**31), 2**31 - 1)


@given(vals=st.lists(int32s, min_size=0, max_size=400))
def test_delta_roundtrip_arbitrary_i32(vals):
    arr = np.array(vals, np.int32)
    buf = delta_for.encode(arr, "int32")
    np.testing.assert_array_equal(delta_for.decode(buf, len(arr), "int32"), arr)


@given(vals=st.lists(int32s, min_size=0, max_size=300))
def test_dict_roundtrip_arbitrary_i32(vals):
    arr = np.array(vals, np.int32)
    dict_page, idx = dictionary.encode(arr, "int32")
    np.testing.assert_array_equal(
        dictionary.decode(dict_page, idx, len(arr), "int32"), arr
    )


@given(
    vals=st.lists(int32s, min_size=0, max_size=300),
    codec=st.sampled_from(["plain", "dict", "delta", "bitpack", "rle"]),
)
def test_chunk_roundtrip_arbitrary(vals, codec):
    arr = np.array(vals, np.int32)
    blob = chunk.encode_chunk(arr, codec, "int32")
    np.testing.assert_array_equal(chunk.decode_chunk(blob), arr)


@given(strings=st.lists(st.binary(min_size=0, max_size=40), min_size=0, max_size=40))
def test_fsst_roundtrip_arbitrary_bytes(strings):
    lengths, data = bytearrays.flat_from_values(strings)
    enc = fsst.encode_flat(lengths, data)
    out_lens, out_data = fsst.decode_flat(enc, len(strings))
    np.testing.assert_array_equal(out_lens, lengths)
    assert out_data == data


@given(strings=st.lists(st.text(min_size=0, max_size=30), min_size=0, max_size=40))
def test_delta_byte_array_roundtrip_arbitrary(strings):
    lengths, data = bytearrays.flat_from_values(strings)
    enc = bytearrays.encode_delta_byte_array(lengths, data)
    out_lens, out_data = bytearrays.decode_delta_byte_array(enc, len(strings))
    np.testing.assert_array_equal(out_lens, lengths)
    assert out_data == data


@given(
    vals=st.lists(st.integers(0, (1 << 64) - 1), min_size=0, max_size=200),
    width=st.integers(1, 64),
)
def test_pack_roundtrip_arbitrary(vals, width):
    arr = np.array([v & ((1 << width) - 1) for v in vals], np.uint64)
    buf = bitpack.pack(arr, width)
    np.testing.assert_array_equal(bitpack.unpack(buf, width, len(arr)), arr)


@given(vals=st.lists(st.integers(0, (1 << 63) - 1), min_size=0, max_size=100))
def test_uleb_array_roundtrip(vals):
    arr = np.array(vals, np.uint64)
    out, lens = bitpack.uleb128_encode_array(arr)
    raw = np.frombuffer(out.tobytes(), np.uint8)
    pos = 0
    for v in vals:
        got, pos = bitpack.uleb128_decode(raw, pos)
        assert got == v


@given(
    strings=st.lists(st.binary(min_size=0, max_size=30), min_size=0, max_size=30),
    codec=st.sampled_from(["plain_ba", "dict_ba", "delta_length_ba", "delta_ba", "fsst"]),
)
def test_string_chunk_roundtrip_arbitrary(strings, codec):
    lengths, data = bytearrays.flat_from_values(strings)
    blob = chunk.encode_chunk((lengths, data), codec, "bytes")
    out_lens, out_data = chunk.decode_chunk(blob)
    np.testing.assert_array_equal(out_lens, lengths)
    assert out_data == data


@given(
    lists=st.lists(
        st.one_of(
            st.none(),
            st.lists(st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)), max_size=12),
        ),
        min_size=0,
        max_size=60,
    )
)
def test_list_chunk_roundtrip_arbitrary(lists):
    """LIST container: arbitrary null lists / null elements / empties."""
    from engine import chunk

    valid = np.array([x is not None for x in lists], bool)
    dense = [x for x in lists if x is not None]
    lengths = np.array([len(x) for x in dense], np.int32)
    flat = [e for x in dense for e in x]
    elem_na = np.array([e is None for e in flat], bool)
    dense_elems = np.array([e for e in flat if e is not None], np.int32)
    blob = chunk.encode_chunk_list(
        lengths,
        dense_elems,
        "int32",
        valid=valid if not valid.all() else None,
        elem_valid=(~elem_na) if elem_na.any() else None,
    )
    decoded = chunk.decode_chunk(blob)
    if not valid.all():
        L, V, RV = decoded
        np.testing.assert_array_equal(RV, valid)
    else:
        L, V = decoded
    np.testing.assert_array_equal(L, lengths)
    if elem_na.any():
        vals, ev = V
        np.testing.assert_array_equal(ev, ~elem_na)
        np.testing.assert_array_equal(vals[ev], dense_elems)
    else:
        np.testing.assert_array_equal(V, dense_elems)


@given(
    vals=st.lists(st.integers(-(2**31), 2**31 - 1), min_size=0, max_size=300),
    mask=st.data(),
)
def test_nullable_chunk_roundtrip_arbitrary(vals, mask):
    from engine import chunk

    arr = np.array(vals, np.int32)
    valid = np.array(
        mask.draw(st.lists(st.booleans(), min_size=len(vals), max_size=len(vals))),
        bool,
    )
    blob = chunk.encode_chunk(arr[valid], "plain", "int32", valid=valid)
    out, v = chunk.decode_chunk(blob)
    np.testing.assert_array_equal(v, valid)
    np.testing.assert_array_equal(out[v], arr[valid])


@given(strings=st.lists(st.binary(min_size=0, max_size=30), min_size=0, max_size=60))
def test_delta_ba_roundtrip_arbitrary(strings):
    from engine import chunk
    from engine.codecs import bytearrays

    lengths, data = bytearrays.flat_from_values(strings)
    blob = chunk.encode_chunk((lengths, data), "delta_ba", "bytes")
    L, D = chunk.decode_chunk(blob)
    np.testing.assert_array_equal(L, lengths)
    assert D == data


@given(vals=st.lists(st.integers(-(2**31), 2**31 - 1), min_size=0, max_size=400))
def test_compressed_chunk_roundtrip_arbitrary(vals):
    from engine import chunk

    arr = np.array(vals, np.int32)
    blob = chunk.compress_chunk(chunk.encode_chunk(arr, "plain", "int32"), "gzip")
    np.testing.assert_array_equal(chunk.decode_chunk(blob), arr)


@given(
    members=st.lists(st.binary(min_size=0, max_size=40), min_size=1, max_size=200),
    probes=st.lists(st.binary(min_size=0, max_size=40), min_size=0, max_size=50),
)
def test_bloom_never_false_negative(members, probes):
    from engine import bloom
    from engine.codecs import bytearrays

    lengths, data = bytearrays.flat_from_values(members)
    bm = bloom.build(lengths, data)
    for m in members:
        assert bloom.might_contain(bm, *bloom.key_hashes(m))
    # probes may false-positive (bounded rate) but must never crash
    for p in probes:
        bloom.might_contain(bm, *bloom.key_hashes(p))


@given(
    rows=st.lists(
        st.one_of(
            st.none(),
            st.lists(
                st.one_of(
                    st.none(),
                    st.integers(-(2**62), 2**62 - 1),  # beyond float64 exactness
                ),
                max_size=8,
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_encode_group_list_int64_arbitrary(rows):
    """The GROUP-LEVEL list:int64 path (Arrow ListArray offsets, record and
    element validity bitmaps -> shred) round-trips arbitrary null lists /
    null elements / empties / ints beyond 2^53 exactly — never through
    float64."""
    import pyarrow as pa

    from engine import chunk
    from engine.jobs import encode as encode_job

    tbl = pa.table(
        {
            "chunk_id": ["c"] * len(rows),
            "doc_id": [f"d{i:04d}" for i in range(len(rows))],
            "v": pa.array(rows, pa.list_(pa.int64())),
        }
    )
    row = encode_job._encode_group_arrow(
        tbl, {"v": ("list:int64", None)}
    ).to_pylist()[0]
    decoded = chunk.decode_chunk(row["payload"])
    # unwrap: (lengths, values[, record_valid]) with values possibly
    # (dense, elem_valid)
    valid = np.array([x is not None for x in rows], bool)
    if not valid.all():
        lengths, values, rec_valid = decoded
        np.testing.assert_array_equal(rec_valid, valid)
    else:
        lengths, values = decoded
    dense_rows = [x for x in rows if x is not None]
    np.testing.assert_array_equal(lengths, [len(x) for x in dense_rows])
    flat = [e for x in dense_rows for e in x]
    if isinstance(values, tuple):
        dense, elem_valid = values
        np.testing.assert_array_equal(elem_valid, [e is not None for e in flat])
        np.testing.assert_array_equal(
            dense[elem_valid], [e for e in flat if e is not None]
        )
    else:
        np.testing.assert_array_equal(values, flat)


@given(data=st.binary(min_size=0, max_size=200))
def test_decode_ppm_never_crashes_unclean(data):
    """The netpbm parser on arbitrary bytes either returns a valid array or
    raises ValueError — never IndexError/struct errors/segfault-shaped
    surprises (it parses untrusted media payloads)."""
    from engine.ops import multimodal as M

    try:
        img = M.decode_ppm(b"P6" + data)
    except ValueError:
        return
    assert img.ndim == 3 and all(s > 0 for s in img.shape)
    assert img.shape[2] == 3


@given(
    w=st.integers(1, 20),
    h=st.integers(1, 20),
    gray=st.booleans(),
    seed=st.integers(0, 2**31 - 1),
)
def test_decode_ppm_roundtrip_property(w, h, gray, seed):
    from engine.ops import multimodal as M

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 1 if gray else 3)).astype(np.uint8)
    np.testing.assert_array_equal(M.decode_ppm(M.encode_ppm(img)), img)


@given(data=st.binary(min_size=0, max_size=300))
def test_decode_wav_never_crashes_unclean(data):
    """decode_wav on arbitrary RIFF-prefixed bytes either returns samples
    or raises ValueError (untrusted payload contract, same as netpbm)."""
    from engine.ops import multimodal as M

    try:
        samples, sr = M.decode_wav(b"RIFF" + data)
    except ValueError:
        return
    assert samples.ndim == 2 and sr > 0


# --- any-depth Dremel assembly vs the Python-walk oracle and pyarrow ---

_LEAVES = {
    "int32": (st.integers(-(2**31), 2**31 - 1), "int32"),
    "double": (st.floats(allow_nan=False), "float64"),
    "string": (st.text(max_size=4), "string"),
    "binary": (st.binary(max_size=4), "binary"),
}


@st.composite
def _nested_case(draw):
    """A depth-1..3 list column with null and empty lists at every level
    and null elements, optionally under a nullable struct wrapper."""
    import pyarrow as pa

    depth = draw(st.integers(1, 3))
    kind = draw(st.sampled_from(sorted(_LEAVES)))
    values, arrow_name = _LEAVES[kind]
    elem = st.one_of(st.none(), values)
    typ = getattr(pa, arrow_name)()
    for _ in range(depth):
        elem = st.one_of(st.none(), st.lists(elem, max_size=4))
        typ = pa.list_(typ)
    rows = draw(st.lists(elem, min_size=1, max_size=30))
    if draw(st.booleans()):
        nulls = draw(
            st.lists(st.booleans(), min_size=len(rows), max_size=len(rows))
        )
        rows = [None if n else {"xs": r} for r, n in zip(rows, nulls)]
        typ = pa.struct([("xs", typ)])
    page_version = draw(st.sampled_from(["1.0", "2.0"]))
    return rows, typ, draw(st.booleans()), page_version


@settings(max_examples=60, deadline=None)
@given(case=_nested_case())
def test_assemble_repeated_matches_walk_and_pyarrow(tmp_path_factory, case):
    """assemble_repeated (one list level per repeated node, numpy masks
    and one ListArray constructor each) must equal the per-entry Python
    walk — the semantics oracle (reference src/record/reader.rs:334-376)
    — and pyarrow's own read, on every list/null/empty shape of depth
    1-3, and read_table's nested lists must equal both."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from _assembly_oracle import _assemble_walk
    from engine import parquet_compat as pc

    rows, typ, use_dict, page_version = case
    path = str(tmp_path_factory.mktemp("nested") / "nested.parquet")
    pq.write_table(
        pa.table({"c": pa.array(rows, typ)}), path,
        use_dictionary=use_dict, data_page_version=page_version,
    )
    want = pq.read_table(path).column("c").to_pylist()
    if pa.types.is_struct(typ):
        want = [None if r is None else r["xs"] for r in want]
    (col,) = pc.read_file_info(path).columns
    vals, defs, reps = pc.read_column_with_levels(path, col)
    got = pc.assemble_repeated(col, vals, defs, reps)
    assert got.type == pc._arrow_type(col)
    assert got.to_pylist() == _assemble_walk(col, vals, defs, reps) == want
    records, valid = pc.read_table(path)[col.path]
    assert records == want
    assert valid.tolist() == [r is not None for r in want]


def _dremel_streams(nodes, n_records, rnd):
    """Level streams of ``n_records`` random records along one schema
    path (req/opt/rep nodes): every optional node may be undefined and
    every repeated node may hold zero to three entries."""
    vals, defs, reps = [], [], []

    def gen(i, d, r):
        if i == len(nodes):
            vals.append(rnd.randint(-9, 9))
            defs.append(d)
            reps.append(r)
            return
        nd = nodes[i]
        if nd["kind"] == "req":
            gen(i + 1, d, r)
        elif nd["kind"] == "opt" and rnd.random() < 0.25:
            defs.append(d)
            reps.append(r)
        elif nd["kind"] == "opt":
            gen(i + 1, d + 1, r)
        else:
            k = rnd.choice([0, 0, 1, 2, 3])
            if k == 0:
                defs.append(d)
                reps.append(r)
            for j in range(k):
                gen(i + 1, d + 1, r if j == 0 else nd["rep"])

    for _ in range(n_records):
        gen(0, 0, 0)
    return (np.array(vals, np.int64), np.array(defs, np.uint64),
            np.array(reps, np.uint64))


@settings(max_examples=200, deadline=None)
@given(
    kinds=st.tuples(
        st.lists(st.sampled_from(["req", "opt", "rep"]), max_size=6),
        st.integers(0, 6),
    ).map(lambda t: t[0][: t[1]] + ["rep"] + t[0][t[1]:]),
    n_records=st.integers(0, 12),
    rnd=st.randoms(use_true_random=False),
)
def test_assemble_repeated_matches_walk_on_any_schema_path(kinds, n_records,
                                                           rnd):
    """Every schema path a writer can produce — required lists, optional
    groups between repeated levels, legacy repeated groups without LIST
    annotation, a repeated primitive leaf — assembles exactly as the
    per-entry walk does, through the public adapter too."""
    from _assembly_oracle import _assemble_walk
    from engine import parquet_compat as pc

    nodes, d, r = [], 0, 0
    for i, k in enumerate(kinds):
        d += k != "req"
        r += k == "rep"
        nodes.append({"name": f"n{i}", "kind": k, "def": d, "rep": r})
    col = pc.ColumnInfo(
        path="p", phys="int64", type_length=0, max_def=d, max_rep=r,
        encodings=[], codec=None, num_values=0, start_offset=0,
        total_compressed=0, nodes=nodes,
    )
    vals, defs, reps = _dremel_streams(nodes, n_records, rnd)
    got = pc.assemble_repeated(col, vals, defs, reps)
    want = _assemble_walk(col, vals, defs, reps)
    assert got.type == pc._arrow_type(col)
    assert got.to_pylist() == want
    assert pc._public({"p": got})["p"][0] == want


# --- pruned read == full read + filter (round 7 differential oracle) ---


@st.composite
def _pruned_case(draw):
    n = draw(st.integers(1, 1500))
    sortit = draw(st.booleans())
    nullable = draw(st.booleans())
    enc = draw(st.sampled_from(
        ["PLAIN", "PLAIN_DICTIONARY", "DELTA_BINARY_PACKED"]
    ))
    version = draw(st.sampled_from([1, 2]))
    page_rows = draw(st.sampled_from([None, 64, 257, 1000]))
    rg_size = draw(st.sampled_from([None, 400]))
    lo = draw(st.integers(-50, 150))
    hi = draw(st.integers(-50, 150))
    op = draw(st.sampled_from(["range", "in", "isnull", "notnull",
                               ">=", ">", "<=", "<", "=="]))
    members = draw(st.lists(st.integers(-50, 150), min_size=1, max_size=6))
    seed = draw(st.integers(0, 2**16))
    return (n, sortit, nullable, enc, version, page_rows, rg_size,
            min(lo, hi), max(lo, hi), op, members, seed)


@settings(max_examples=60, deadline=None)
@given(case=_pruned_case())
def test_pruned_read_matches_full_read_plus_filter(tmp_path_factory, case):
    """The whole pruning stack (row-group stats, ColumnIndex page masks,
    boundary_order binary search, dictionary filtering, residual) must
    agree EXACTLY with the trivial oracle: full decode + numpy filter —
    across encodings, page/row-group splits, v1/v2, nulls, sortedness,
    ranges, IN-lists and null tests."""
    from engine import parquet_compat as pc
    from engine import parquet_out as po

    (n, sortit, nullable, enc, version, page_rows, rg_size,
     lo, hi, op, members, seed) = case
    rng = np.random.default_rng(seed)
    vals = rng.integers(-40, 140, n).astype(np.int64)
    if sortit:
        vals = np.sort(vals)
    other = rng.integers(0, 10**6, n).astype(np.int64)
    valid = np.ones(n, bool)
    if nullable:
        valid = rng.random(n) > 0.2
    tmp = tmp_path_factory.mktemp("pr")
    path = str(tmp / "t.parquet")
    kwargs = {}
    if page_rows:
        kwargs["page_size_rows"] = page_rows
    if rg_size:
        kwargs["row_group_size"] = rg_size
    po.write_table(
        path,
        [
            ("v", "int64", enc, vals, valid if nullable else None),
            ("o", "int64", "PLAIN", other, None),
        ],
        data_page_version=version,
        **kwargs,
    )
    pred = {
        "range": ("v", lo, hi),
        "in": ("v", "in", members),
        "isnull": ("v", "isnull", None),
        "notnull": ("v", "notnull", None),
    }.get(op, ("v", op, lo))
    got, pr, pt = pc.read_table_pruned(path, pred, columns=["v", "o"])
    full = pc.read_table(path, columns=["v", "o"])
    fv, fvalid = full["v"]
    if op == "in":
        mask = fvalid & np.isin(fv, np.asarray(members))
    elif op == "isnull":
        mask = ~fvalid
    elif op == "notnull":
        mask = fvalid
    elif op == "range":
        mask = fvalid & (fv >= lo) & (fv <= hi)
    else:
        import operator

        cmpf = {">=": operator.ge, ">": operator.gt, "<=": operator.le,
                "<": operator.lt, "==": operator.eq}[op]
        mask = fvalid & cmpf(fv, lo)
    assert got["v"][0].tolist() == fv[mask].tolist()
    assert got["o"][0].tolist() == full["o"][0][mask].tolist()
    if op == "isnull":
        assert not got["v"][1].any()  # every surviving row IS null
    else:
        assert got["v"][1].all()  # matching rows are non-null
    assert 0 <= pr <= pt


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 1200),
    seed=st.integers(0, 2**16),
    page_rows=st.sampled_from([None, 97, 400]),
    b1=st.tuples(st.integers(-50, 150), st.integers(-50, 150)),
    b2=st.tuples(st.integers(-50, 150), st.integers(-50, 150)),
    b3=st.tuples(st.integers(-50, 150), st.integers(-50, 150)),
)
def test_cnf_pruned_read_matches_oracle(
    tmp_path_factory, n, seed, page_rows, b1, b2, b3
):
    """(A OR B) AND C with branches on two different columns must equal
    the full-decode oracle exactly, whatever the page layout."""
    from engine import parquet_compat as pc
    from engine import parquet_out as po

    rng = np.random.default_rng(seed)
    a = rng.integers(-40, 140, n).astype(np.int64)
    b = rng.integers(-40, 140, n).astype(np.int64)
    tmp = tmp_path_factory.mktemp("cnf")
    path = str(tmp / "t.parquet")
    kwargs = {"page_size_rows": page_rows} if page_rows else {}
    po.write_table(
        path,
        [
            ("a", "int64", "PLAIN", a, None),
            ("b", "int64", "PLAIN_DICTIONARY", b, None),
        ],
        **kwargs,
    )
    (l1, h1), (l2, h2), (l3, h3) = (sorted(b1), sorted(b2), sorted(b3))
    got, pr, pt = pc.read_table_pruned(
        path,
        [[("a", l1, h1), ("b", l2, h2)], ("a", l3, h3)],
        columns=["a", "b"],
    )
    mask = (((a >= l1) & (a <= h1)) | ((b >= l2) & (b <= h2))) & (
        (a >= l3) & (a <= h3)
    )
    assert got["a"][0].tolist() == a[mask].tolist()
    assert got["b"][0].tolist() == b[mask].tolist()
    assert 0 <= pr <= pt
