"""Byte pins for ``parquet_out.write_table``: the sha256 of files written
from fixed, seeded tuple specs. Any change to the writer that moves a
single byte of these files (schema, levels, page split, encodings,
statistics, PageIndex, footer) fails here, so a refactor of the writer
proves it is byte-neutral on every shape the tuple spec can express:
every physical type and alias, required and nullable columns, LIST with
null/empty rows and null elements, a STRUCT with nulls at both levels,
LIST of STRUCT with an optional element, a MAP with nullable values,
v1 and v2 pages, several row groups and pages, the flat mid-chunk
dictionary fallback and each page codec."""

import hashlib

import numpy as np
import pytest

from engine import parquet_out as po

N = 600


def _flat(seed=1):
    """Every phys and alias, each required and nullable; fixed-type null
    slots hold garbage (the writer must never read them)."""
    rng = np.random.default_rng(seed)
    valid = rng.random(N) > 0.2
    words = [f"w{int(k)}" * (1 + int(k) % 4) for k in rng.integers(0, 40, N)]
    raw = [bytes(rng.integers(0, 256, int(k), dtype=np.uint8))
           for k in rng.integers(0, 9, N)]
    f64 = rng.normal(size=N)
    f64[7] = np.nan
    return [
        ("b", "bool", "AUTO", rng.random(N) > 0.5, None),
        ("bn", "bool", "PLAIN", rng.random(N) > 0.5, valid),
        ("i32", "int32", "AUTO", rng.integers(-50, 50, N).astype(np.int32), None),
        ("i32n", "int32", "PLAIN",
         rng.integers(-(1 << 31), 1 << 31, N).astype(np.int32), valid),
        ("i64", "int64", "DELTA_BINARY_PACKED",
         np.cumsum(rng.integers(0, 9, N)).astype(np.int64), None),
        ("i64n", "int64", "AUTO", rng.integers(0, 20, N).astype(np.int64), valid),
        ("f32", "float32", "AUTO", rng.normal(size=N).astype(np.float32), None),
        ("f64n", "float64", "PLAIN", f64, valid),
        ("ba", "byte_array", "PLAIN", po.flat_strings(raw), None),
        ("ban", "byte_array", "AUTO",
         po.flat_strings([r for r, v in zip(raw, valid) if v]), valid),
        ("s", "utf8", "AUTO", po.flat_strings(words), None),
        ("sn", "utf8", "PLAIN_DICTIONARY",
         po.flat_strings([w for w, v in zip(words, valid) if v]), valid),
        ("d", "date", "AUTO", rng.integers(0, 20000, N).astype(np.int32), None),
        ("tms", "timestamp_ms", "PLAIN",
         rng.integers(0, 1 << 41, N).astype(np.int64), valid),
        ("tus", "timestamp_us", "DELTA_BINARY_PACKED",
         np.cumsum(rng.integers(0, 1000, N)).astype(np.int64), None),
    ]


def _encodings(seed=2):
    """The explicit value encodings the writer accepts."""
    rng = np.random.default_rng(seed)
    valid = rng.random(N) > 0.1
    words = sorted(f"prefix-{int(k):05d}" for k in rng.integers(0, 3000, N))
    return [
        ("rle", "bool", "RLE", rng.random(N) > 0.8, valid),
        ("dlba", "utf8", "DELTA_LENGTH_BYTE_ARRAY", po.flat_strings(words), None),
        ("dba", "utf8", "DELTA_BYTE_ARRAY",
         po.flat_strings([w for w, v in zip(words, valid) if v]), valid),
        ("bss32", "float32", "BYTE_STREAM_SPLIT",
         rng.normal(size=N).astype(np.float32), valid),
        ("bss64", "float64", "BYTE_STREAM_SPLIT", rng.normal(size=N), None),
        ("bssi", "int64", "BYTE_STREAM_SPLIT",
         rng.integers(0, 1 << 40, N).astype(np.int64), None),
        ("dict", "int32", "PLAIN_DICTIONARY",
         rng.integers(0, 7, N).astype(np.int32), valid),
        ("dbp", "int32", "DELTA_BINARY_PACKED",
         rng.integers(-1000, 1000, N).astype(np.int32), valid),
    ]


def _lists(seed=3):
    """LIST of int32 and utf8 with null rows, empty rows and null
    elements; a null row holds zero entries."""
    rng = np.random.default_rng(seed)
    counts = rng.integers(0, 5, N)
    rv = rng.random(N) > 0.15
    counts[~rv] = 0
    offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
    ne = int(offsets[-1])
    ev = rng.random(ne) > 0.2
    ints = rng.integers(-9, 9, ne).astype(np.int32)
    words = [f"t{int(k)}" for k in rng.integers(0, 30, ne)]
    return [
        ("id", "int64", "AUTO", np.arange(N, dtype=np.int64), None),
        ("li", "list<int32>", "AUTO", (offsets, ints[ev], ev), rv),
        ("ls", "list<utf8>", "PLAIN",
         (offsets, po.flat_strings([w for w, v in zip(words, ev) if v]), ev),
         rv),
        ("lr", "list<int64>", "DELTA_BINARY_PACKED",
         (offsets, np.arange(ne, dtype=np.int64), None), None),
    ]


def _groups(seed=4):
    """STRUCT with nulls at both levels, LIST of STRUCT with an optional
    element, MAP with nullable values."""
    rng = np.random.default_rng(seed)
    sv = rng.random(N) > 0.15
    wv = rng.random(N) > 0.25
    width = rng.integers(0, 100, N).astype(np.int32)
    names = [f"n{int(k)}" for k in rng.integers(0, 12, N)]
    lbl = [f"l{int(k)}" for k in rng.integers(0, 5, N)]
    counts = rng.integers(0, 4, N)
    rv = rng.random(N) > 0.1
    counts[~rv] = 0
    offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int64)
    ne = int(offsets[-1])
    esv = rng.random(ne) > 0.2
    xv = rng.random(ne) > 0.3
    x = rng.integers(0, 1000, ne).astype(np.int32)
    tags = [f"g{int(k)}" for k in rng.integers(0, 3, ne)]
    mcounts = rng.integers(0, 3, N)
    mrv = rng.random(N) > 0.1
    mcounts[~mrv] = 0
    moff = np.concatenate(([0], np.cumsum(mcounts))).astype(np.int64)
    nm = int(moff[-1])
    keys = [f"k{int(k)}" for k in rng.integers(0, 8, nm)]
    mvv = rng.random(nm) > 0.25
    mvals = rng.integers(0, 1 << 40, nm).astype(np.int64)
    return [
        ("id", "int64", "AUTO", np.arange(N, dtype=np.int64), None),
        ("m", "struct", "AUTO", [
            ("width", "int32", "AUTO", width, wv),
            ("name", "utf8", "AUTO",
             po.flat_strings([s for s, v in zip(names, sv & wv) if v]), wv),
            ("label", "utf8", "PLAIN",
             po.flat_strings([s for s, v in zip(lbl, sv) if v]), None),
        ], sv),
        ("r", "struct", "AUTO", [
            ("a", "int64", "PLAIN", np.arange(N, dtype=np.int64), None),
            ("b", "float64", "AUTO", rng.normal(size=N), wv),
        ], None),
        ("ev", "list<struct>", "AUTO", (offsets, [
            ("x", "int32", "AUTO", x[esv & xv], xv),
            ("tag", "utf8", "AUTO",
             po.flat_strings([t for t, v in zip(tags, esv) if v]), None),
        ], esv), rv),
        ("kv", "map<utf8,int64>", "AUTO",
         (moff, po.flat_strings(keys), mvals[mvv], mvv), mrv),
    ]


def _fallback():
    """Flat mid-chunk dictionary fallback: a low-cardinality prefix then
    unique long values, several pages."""
    vals = [
        f"k{i % 50:03d}" if i < 3000 else f"unique-{i:08d}-{'x' * 40}"
        for i in range(6000)
    ]
    valid = np.arange(6000) % 11 != 0
    return [
        ("s", "utf8", "PLAIN_DICTIONARY", po.flat_strings(vals), None),
        ("sn", "utf8", "PLAIN_DICTIONARY",
         po.flat_strings([v for v, ok in zip(vals, valid) if ok]), valid),
    ]


_CASES = {
    "flat_v1": (_flat, dict(row_group_size=250, page_size_rows=70)),
    "flat_v2": (_flat, dict(row_group_size=400, page_size_rows=128,
                            data_page_version=2)),
    "flat_one_page": (_flat, {}),
    "encodings_v1": (_encodings, dict(page_size_rows=100)),
    "encodings_v2": (_encodings, dict(row_group_size=300, page_size_rows=90,
                                      data_page_version=2)),
    "lists_v1": (_lists, dict(row_group_size=220, page_size_rows=50)),
    "lists_v2": (_lists, dict(page_size_rows=64, data_page_version=2)),
    "lists_one_page": (_lists, {}),
    "groups_v1": (_groups, dict(row_group_size=250, page_size_rows=60)),
    "groups_v2": (_groups, dict(row_group_size=320, data_page_version=2)),
    "groups_one_page": (_groups, {}),
    "fallback_v1": (_fallback, dict(page_size_rows=500,
                                    dict_page_size_limit=4096)),
    "fallback_v2": (_fallback, dict(row_group_size=4000, page_size_rows=700,
                                    dict_page_size_limit=2048,
                                    data_page_version=2)),
    "sorted_created_by": (
        _flat, dict(sorting_columns=[("i64", False, False)],
                    created_by="pinned writer", page_size_rows=200)),
}
for _codec in ("snappy", "gzip", "brotli", "lz4", "zstd"):
    _CASES[f"codec_{_codec}_v1"] = (_lists, dict(codec=_codec,
                                                 page_size_rows=200))
    _CASES[f"codec_{_codec}_v2"] = (_groups, dict(codec=_codec,
                                                  page_size_rows=200,
                                                  data_page_version=2))

_PINS = {
    "codec_brotli_v1": "9ce335f4174afdfb18c2f70a464c6a55e838c25cc5d63089e86537de6c311906",
    "codec_brotli_v2": "0e929ca0e4750051eb11ae1d773cdf83fcf7d7a0229a556cecd5ba41c0206e00",
    "codec_gzip_v1": "0780cd76eb99f62b8f2e51add17abcbcca31f027331a4227085ae03051a7c811",
    "codec_gzip_v2": "bc8ef849c5aaea9289dec7098e8012c4319765052202575f82b094b27793ea0f",
    "codec_lz4_v1": "da3e4537688f4c3c3649326af32a03b10d390f0b14d2a368df3f6a510506244c",
    "codec_lz4_v2": "42a8279e5cc0ab6256fed61271c36059b93fa6d9f211a9f8329d119bc0f0bb4b",
    "codec_snappy_v1": "d3855ab78e5da981a62a014d0f2f7e6fb53164fb806039fae703b4312339db63",
    "codec_snappy_v2": "289f0cb8b4571c4a40ab4b749c7ee1b5ffa0b91fa059174d523ade6ef56f17d5",
    "codec_zstd_v1": "eab0e901c6feb99a7d325aaab8b1588ce16e8cb2589cfe932e68eb789d90bcdd",
    "codec_zstd_v2": "a7b4f3634a3717645e5b80a115771d33818ed27a7953dc663dc22651492eaf5a",
    "encodings_v1": "cfce6c629ce07f08cca226ce8753bf8c00774fb94d02c9e84791d40cf7e7067c",
    "encodings_v2": "b4b8a429e6af125af2287fc4b8e164538fe2e879564542c92f61a24afe692e62",
    "fallback_v1": "c8fbf5287baaab1c086cde18a99d8ad7f266ef22466fe605acb5f8ca7f94f511",
    "fallback_v2": "2fa2cfd1c4b2cdd8495569a2c3f10eeb174939bbca127c1445196cc3c94dafad",
    "flat_one_page": "3339c5960c6941c6ea2e8eec1a69f9881adf5cd6b7d9a2544e3761429c73e966",
    "flat_v1": "e03749ccff893de891277ab6161f300ce7055df520799a961dd4cf66c0b52bcc",
    "flat_v2": "51891954f8f772d8291c857e4bba95529194ef5d6ded3ad4d0a52dab3ec91bc5",
    "groups_one_page": "7bafb4b5a28ccabc1ea8bcef4532efc4b18f7dab62eff72fe12be18c44732d2a",
    "groups_v1": "64ea4fcbb51c1be2e5295b64a796c337b344470907aca8c8b47bad4f9c3341ff",
    "groups_v2": "9a4b40f972ef4f7dfbc7e6def8453654bb7ea7fa0d39b973f807904113291523",
    "lists_one_page": "903a817ae1d945a2e258d8a3b83ace216dd2d0e0af6309ddf3c52994d7ae4286",
    "lists_v1": "c02bb9d694e97c425905c7947ca0ad89f3bdf64ef62034fc8a7e64e2dc51e0d3",
    "lists_v2": "ef657d120167b1cd1eba150e5cd5b8bf5472b74d7bdd5c780f539073aa13ddda",
    "sorted_created_by": "ad153c630f915c0213cfce13b43d63518a1dd8bdc7cd60548798047d98723bb5",
}


def _digest(tmp_path, case) -> str:
    spec_fn, kwargs = _CASES[case]
    path = str(tmp_path / f"{case}.parquet")
    po.write_table(path, spec_fn(), **kwargs)
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


@pytest.mark.parametrize("case", sorted(_CASES))
def test_write_table_bytes_pinned(tmp_path, case):
    assert _digest(tmp_path, case) == _PINS[case]


@pytest.mark.parametrize("case", sorted(_CASES))
def test_pinned_files_read_back(tmp_path, case):
    """The pinned bytes are a valid parquet file for pyarrow."""
    import pyarrow.parquet as pq

    spec_fn, kwargs = _CASES[case]
    path = str(tmp_path / f"{case}.parquet")
    spec = spec_fn()
    po.write_table(path, spec, **kwargs)
    tbl = pq.read_table(path)
    assert tbl.column_names == [c[0] for c in spec]
    assert tbl.num_rows == (6000 if case.startswith("fallback") else N)
