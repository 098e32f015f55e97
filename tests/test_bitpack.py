import numpy as np
import pytest

from engine.codecs import bitpack

import _kernel_oracle


@pytest.mark.parametrize("width", [1, 2, 3, 5, 7, 8, 12, 16, 20, 24, 31, 32])
@pytest.mark.parametrize("n", [1, 7, 8, 9, 31, 32, 33, 1000])
def test_pack_roundtrip(width, n):
    rng = np.random.default_rng(42 + width * 100 + n)
    hi = (1 << width) - 1
    vals = rng.integers(0, hi + 1, size=n, dtype=np.uint64)
    buf = bitpack.pack(vals, width)
    assert len(buf) == (n * width + 7) // 8
    out = bitpack.unpack(buf, width, n)
    np.testing.assert_array_equal(out, vals)


def test_pack_width_zero():
    assert bitpack.pack(np.array([0, 0, 0], np.uint64), 0) == b""
    np.testing.assert_array_equal(bitpack.unpack(b"", 0, 3), np.zeros(3, np.uint64))


def test_pack_lsb_first_layout():
    # values 0,1,0,1,... at width 1 -> 0xAA bytes (bit i = value i)
    vals = np.arange(8, dtype=np.uint64) % 2
    assert bitpack.pack(vals, 1) == b"\xaa"
    # 0..7 at width 3 -> reference golden [0x88, 0xC6, 0xFA]
    # (src/encodings/rle.rs:524-535 uses these bytes for the packed payload)
    assert bitpack.pack(np.arange(8, dtype=np.uint64), 3) == bytes([0x88, 0xC6, 0xFA])


def test_uleb128():
    for v in [0, 1, 127, 128, 300, 16383, 16384, 2**31, 2**63 - 1]:
        enc = bitpack.uleb128_encode(v)
        dec, pos = bitpack.uleb128_decode(np.frombuffer(enc, np.uint8), 0)
        assert dec == v and pos == len(enc)


def test_uleb128_vectorized_matches_scalar():
    rng = np.random.default_rng(7)
    vals = np.concatenate(
        [
            rng.integers(0, 128, 100, dtype=np.uint64),
            rng.integers(0, 1 << 20, 100, dtype=np.uint64),
            rng.integers(0, 1 << 62, 100, dtype=np.uint64),
        ]
    )
    out, lens = bitpack.uleb128_encode_array(vals)
    expect = b"".join(bitpack.uleb128_encode(int(v)) for v in vals)
    assert out.tobytes() == expect
    assert lens.sum() == len(expect)


def test_zigzag():
    for v in [0, -1, 1, -2, 2, 2**31 - 1, -(2**31), 2**62, -(2**63)]:
        assert bitpack.zigzag_decode(bitpack.zigzag_encode(v)) == v
    assert bitpack.zigzag_encode(0) == 0
    assert bitpack.zigzag_encode(-1) == 1
    assert bitpack.zigzag_encode(1) == 2


def test_dict_bit_width():
    # reference DictEncoder::bit_width (src/encodings/encoding.rs:325-334)
    assert bitpack.dict_bit_width(0) == 0
    assert bitpack.dict_bit_width(1) == 1
    assert bitpack.dict_bit_width(2) == 1
    assert bitpack.dict_bit_width(3) == 2
    assert bitpack.dict_bit_width(1024) == 10
    assert bitpack.dict_bit_width(1025) == 11


@pytest.mark.parametrize("width", range(57, 65))
@pytest.mark.parametrize("n", [1, 7, 8, 9, 100])
def test_unpack_wide_matches_oracle(width, n):
    # widths 58-64 spill into a ninth byte at odd bit offsets
    rng = np.random.default_rng(width * 1000 + n)
    vals = rng.integers(0, 1 << 63, size=n, dtype=np.uint64) >> np.uint64(63 - (width - 1))
    vals |= np.uint64(1 << (width - 1))  # top bit set
    buf = bitpack.pack(vals, width) + b"\xff"  # a trailing byte must not leak in
    out = bitpack.unpack(buf, width, n)
    np.testing.assert_array_equal(out, vals)
    np.testing.assert_array_equal(out, _kernel_oracle.unpack(buf, width, n))


def test_uleb128_truncated_raises():
    enc = bitpack.uleb128_encode(300)  # two bytes
    assert bitpack.uleb128_decode(enc, 0) == (300, 2)
    with pytest.raises(ValueError, match="truncated varint at byte 0"):
        bitpack.uleb128_decode(enc[:1], 0)
