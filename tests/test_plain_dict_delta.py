"""Round-trip + golden tests for PLAIN, DICTIONARY, DELTA_BINARY_PACKED.

Mirrors the reference's EncodingTester round-trip pattern
(src/encodings/encoding.rs:1179-1265) over the FIXTURES.md F2 regimes.
"""

import numpy as np
import pandas as pd
import pytest

from engine.codecs import bitpack, delta_for, dictionary, plain

SIZES = [0, 1, 7, 8, 127, 128, 129, 1023, 1024, 4096]


def regimes(n, seed=42):
    rng = np.random.default_rng(seed)
    i32 = np.iinfo(np.int32)
    out = {
        "lowcard10": rng.integers(0, 10, n).astype(np.int32),
        "lowcard1000": rng.integers(0, 1000, n).astype(np.int32),
        "monotone": np.cumsum(rng.integers(0, 7, n)).astype(np.int32),
        "smallrange": (1000 + rng.integers(0, 1 << 12, n)).astype(np.int32),
        "fullrange": rng.integers(i32.min, i32.max, n, endpoint=True).astype(np.int32),
        "constant": np.full(n, 12345, np.int32),
        "alternating": (np.arange(n) % 2).astype(np.int32),
        "zipf": np.minimum(rng.zipf(1.3, n) if n else np.empty(0), 50_000).astype(np.int32),
    }
    # force i32 boundary pairs into fullrange (wrapping-delta overflow,
    # reference src/encodings/encoding.rs:758-768)
    if n >= 4:
        out["fullrange"][:4] = [i32.min, i32.max, i32.max, i32.min]
    return out


@pytest.mark.parametrize("n", SIZES)
def test_plain_roundtrip_i32(n):
    for name, vals in regimes(n).items():
        buf = plain.encode(vals, "int32")
        assert len(buf) == 4 * n
        np.testing.assert_array_equal(plain.decode(buf, n, "int32"), vals, err_msg=name)


def test_plain_bool():
    rng = np.random.default_rng(1)
    vals = rng.integers(0, 2, 100).astype(bool)
    buf = plain.encode(vals, "bool")
    assert len(buf) == 13
    np.testing.assert_array_equal(plain.decode(buf, 100, "bool"), vals)


def test_plain_byte_arrays_roundtrip():
    strings = [b"", b"parquet", b"x" * 300, b"abc", b"abc"]
    lengths = np.array([len(s) for s in strings])
    buf = plain.encode_byte_arrays(lengths, b"".join(strings))
    # layout: u32 len + bytes per value (src/encodings/encoding.rs:152-158)
    assert buf[:4] == (0).to_bytes(4, "little")
    assert buf[4:8] == (7).to_bytes(4, "little") and buf[8:15] == b"parquet"
    out_lens, out_data = plain.decode_byte_arrays(buf, len(strings))
    np.testing.assert_array_equal(out_lens, lengths)
    assert out_data == b"".join(strings)


@pytest.mark.parametrize("n", SIZES)
def test_dict_roundtrip_i32(n):
    for name, vals in regimes(n).items():
        dict_page, idx = dictionary.encode(vals, "int32")
        out = dictionary.decode(dict_page, idx, n, "int32")
        np.testing.assert_array_equal(out, vals, err_msg=name)


def test_dict_first_occurrence_order_and_sizes():
    # 5 distinct i32 -> 20-byte dict page (src/encodings/encoding.rs:1047-1077)
    vals = np.array([9, 3, 9, 7, 1, 5, 3], np.int32)
    dict_page, idx = dictionary.encode(vals, "int32")
    uniques = np.frombuffer(dict_page, "<i4")
    np.testing.assert_array_equal(uniques, [9, 3, 7, 1, 5])  # insertion order
    assert len(dict_page) == 20
    assert idx[0] == bitpack.dict_bit_width(5) == 3  # width prefix byte


def test_dict_strings_roundtrip():
    s = pd.Series(["web", "web", "code", "books", "web", "chat", "code"])
    dict_page, idx = dictionary.encode_strings(s)
    # dict sizes golden: "abcd","efj" -> 4+4 + 4+3 = 15 bytes
    dp2, _ = dictionary.encode_strings(pd.Series(["abcd", "efj"]))
    assert len(dp2) == 15  # src/encodings/encoding.rs:1047-1077
    lens, data = dictionary.decode_strings(dict_page, idx, len(s))
    off = np.concatenate(([0], np.cumsum(lens.astype(np.int64))))
    out = [data[off[i] : off[i + 1]].decode() for i in range(len(s))]
    assert out == list(s)


@pytest.mark.parametrize("n", SIZES)
def test_delta_roundtrip_i32(n):
    for name, vals in regimes(n).items():
        buf = delta_for.encode(vals, "int32")
        out = delta_for.decode(buf, n, "int32")
        np.testing.assert_array_equal(out, vals, err_msg=name)


def test_delta_roundtrip_i64():
    rng = np.random.default_rng(3)
    i64 = np.iinfo(np.int64)
    vals = rng.integers(i64.min, i64.max, 1000, endpoint=True).astype(np.int64)
    vals[:4] = [i64.min, i64.max, i64.max, i64.min]
    buf = delta_for.encode(vals, "int64")
    np.testing.assert_array_equal(delta_for.decode(buf, 1000, "int64"), vals)


def test_delta_header_layout():
    # header := uleb(128) uleb(4) uleb(count) zigzag(first)
    # (src/encodings/encoding.rs:511-533)
    vals = np.array([7, 8, 9, 10], np.int32)
    buf = delta_for.encode(vals, "int32")
    raw = np.frombuffer(buf, np.uint8)
    assert (raw[0], raw[1]) == (128 & 0x7F | 0x80, 1)  # uleb(128) = 0x80 0x01
    v, pos = bitpack.uleb128_decode(raw, 2)
    assert v == 4  # num mini blocks
    v, pos = bitpack.uleb128_decode(raw, pos)
    assert v == 4  # total count
    v, pos = bitpack.uleb128_decode(raw, pos)
    assert bitpack.zigzag_decode(v) == 7  # first value
    # block: zigzag(min_delta=1), 4 width bytes (0,0,0,0 -> all deltas equal)
    v, pos = bitpack.uleb128_decode(raw, pos)
    assert bitpack.zigzag_decode(v) == 1
    assert list(raw[pos : pos + 4]) == [0, 0, 0, 0]
    assert pos + 4 == len(raw)  # width-0 miniblocks carry no data


def test_delta_monotone_is_tiny():
    # monotone stream with small steps: ~bits-per-value = width of step range
    vals = np.cumsum(np.ones(4096, np.int64)).astype(np.int32)  # step == 1
    buf = delta_for.encode(vals, "int32")
    assert len(buf) < 200  # 32 blocks x ~6 bytes + header


# --- truncated DELTA_BINARY_PACKED streams fail loudly ----------------------


def _delta_300(dtype="int32"):
    # 299 deltas -> blocks of 128, 128 and 43 deltas; every miniblock is
    # 11 bits wide, so block 2 carries 2 x 44 payload bytes
    vals = np.random.default_rng(0).integers(0, 1000, 300).astype(dtype)
    return vals, delta_for.encode(vals, dtype)


@pytest.mark.parametrize(
    "cut, msg",
    [
        # 7 header bytes + block 0's 2-byte min_delta, then 1 of 4 widths
        (10, "at byte 9: block 0 needs 4 miniblock widths, 1 left"),
        # the 465-byte stream loses 3 bytes of block 2's payload
        (462, "at byte 377: block 2 miniblocks need 88 bytes, 85 left"),
    ],
)
def test_delta_truncated_raises(cut, msg):
    _, buf = _delta_300()
    assert len(buf) == 465
    with pytest.raises(ValueError, match=f"truncated DELTA_BINARY_PACKED stream {msg}"):
        delta_for.decode(buf[:cut], 300)


@pytest.mark.parametrize("dtype", ["int32", "int64"])
def test_delta_every_cut_raises(dtype):
    vals, buf = _delta_300(dtype)
    np.testing.assert_array_equal(delta_for.decode(buf, 300, dtype), vals)
    out, consumed = delta_for.decode_stream(buf + b"\x00", dtype)
    np.testing.assert_array_equal(out, vals)
    assert consumed == len(buf)
    for cut in range(len(buf)):
        with pytest.raises(ValueError, match="truncated"):
            delta_for.decode(buf[:cut], 300, dtype)
        with pytest.raises(ValueError, match="truncated"):
            delta_for.decode_stream(buf[:cut], dtype)
