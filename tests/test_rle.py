"""RLE/bit-packed hybrid: golden-byte vectors lifted from the reference's
hand-computed fixtures (src/encodings/rle.rs tests) + property round-trips."""

import numpy as np
import pytest

from engine.codecs import rle

import _kernel_oracle


# --- golden vectors (FIXTURES.md F3) ---------------------------------------


@pytest.mark.parametrize("width", range(1, 9))
def test_golden_two_rle_runs(width):
    # 50 x 0 then 50 x 1 -> [0x64, 0x00, 0x64, 0x01] for widths 1..8
    # reference src/encodings/rle.rs:667-692
    vals = np.concatenate([np.zeros(50, np.uint64), np.ones(50, np.uint64)])
    assert rle.encode(vals, width) == bytes([0x64, 0x00, 0x64, 0x01])
    np.testing.assert_array_equal(rle.decode(rle.encode(vals, width), width, 100), vals)


def test_golden_bit_packed_alternating():
    # 100 alternating 0/1 at width 1 -> [0x1B, 0xAA*12, 0x0A]
    # reference src/encodings/rle.rs:694-721
    vals = (np.arange(100, dtype=np.uint64)) % 2
    expect = bytes([0x1B] + [0xAA] * 12 + [0x0A])
    assert rle.encode(vals, 1) == expect
    np.testing.assert_array_equal(rle.decode(expect, 1, 100), vals)


def test_golden_decode_0_to_7():
    # [0x03, 0x88, 0xC6, 0xFA] at width 3 -> 0..7
    # reference src/encodings/rle.rs:524-535
    buf = bytes([0x03, 0x88, 0xC6, 0xFA])
    np.testing.assert_array_equal(rle.decode(buf, 3, 8), np.arange(8, dtype=np.uint64))


def test_golden_decode_dict_indices():
    # [0x06,0x00,0x08,0x01,0x0A,0x02] -> 3x0, 4x1, 5x2 (dict run test,
    # reference src/encodings/rle.rs:595-606)
    buf = bytes([0x06, 0x00, 0x08, 0x01, 0x0A, 0x02])
    expect = np.repeat(np.array([0, 1, 2], np.uint64), [3, 4, 5])
    np.testing.assert_array_equal(rle.decode(buf, 2, 12), expect)


# --- state-machine edges ----------------------------------------------------


def test_short_all_equal_tail_is_rle():
    # final flush: <8 equal buffered values, no open group -> RLE run
    # (reference flush() all_repeat branch, src/encodings/rle.rs:219-244)
    vals = np.full(5, 3, np.uint64)
    assert rle.encode(vals, 3) == bytes([0x0A, 0x03])  # varint(5<<1)=10, value 3


def test_misaligned_long_run_keeps_head_bitpacked():
    # run of 9 starting at offset 3: head fills the group (bit-packed),
    # remaining 6 < 8 -> no RLE; everything bit-packed w/ final pad
    vals = np.array([1, 2, 3] + [5] * 9, np.uint64)
    buf = rle.encode(vals, 3)
    np.testing.assert_array_equal(rle.decode(buf, 3, len(vals)), vals)
    assert buf[0] & 1 == 1  # starts with a bit-packed run, not RLE


def test_misaligned_long_run_aligned_tail_becomes_rle():
    # run of 13 starting at offset 3: 5 fill the group, 8 remaining -> RLE(8+)
    vals = np.array([1, 2, 3] + [5] * 13, np.uint64)
    buf = rle.encode(vals, 3)
    np.testing.assert_array_equal(rle.decode(buf, 3, len(vals)), vals)
    # expect: bitpack 1 group (header 0x03) then RLE run of 8 (header 0x10)
    assert buf[0] == 0x03
    assert buf[4] == 0x10 and buf[5] == 0x05


def test_max_groups_per_bit_packed_run():
    # >504 non-repeating values must split bit-packed runs at 63 groups
    vals = (np.arange(1200, dtype=np.uint64)) % 7
    buf = rle.encode(vals, 3)
    assert buf[0] == (63 << 1 | 1) & 0x7F or buf[0] == 0x7F  # 63 groups -> 0x7F
    np.testing.assert_array_equal(rle.decode(buf, 3, 1200), vals)


def test_width_zero():
    vals = np.zeros(20, np.uint64)
    buf = rle.encode(vals, 0)
    np.testing.assert_array_equal(rle.decode(buf, 0, 20), vals)


@pytest.mark.parametrize("width", [1, 2, 3, 5, 8, 12, 20, 32])
@pytest.mark.parametrize(
    "n", [0, 1, 7, 8, 9, 15, 16, 63, 64, 503, 504, 505, 1023, 1024, 4096]
)
def test_roundtrip_random_runs(width, n):
    rng = np.random.default_rng(width * 10000 + n)
    # random run-structured data (geometric run lengths)
    out = []
    total = 0
    while total < n:
        run = int(rng.geometric(0.15))
        out.append(np.full(min(run, n - total), rng.integers(0, 1 << min(width, 16)), np.uint64))
        total += run
    vals = np.concatenate(out)[:n] if out else np.empty(0, np.uint64)
    buf = rle.encode(vals, width)
    np.testing.assert_array_equal(rle.decode(buf, width, n), vals)


def test_len_prefixed_roundtrip():
    vals = np.array([0, 0, 0, 1, 1, 1, 1, 2] * 10, np.uint64)
    buf = rle.encode_len_prefixed(vals, 2)
    out, consumed = rle.decode_len_prefixed(buf, 2, len(vals))
    assert consumed == len(buf)
    np.testing.assert_array_equal(out, vals)


# --- truncated streams fail loudly ------------------------------------------


def test_truncated_rle_value_raises():
    # header 0x28 = RLE run of 20 at width 3, but its value byte is missing
    with pytest.raises(ValueError, match="truncated RLE/bit-packed stream at byte 1: RLE value"):
        rle.decode(bytes([0x28]), 3, 20)


@pytest.mark.parametrize("cut", [0, 1])
def test_truncated_header_raises(cut):
    # 200 x 5 -> one RLE run with a two-byte header (0x90 0x03) and value 0x05
    buf = rle.encode(np.full(200, 5, np.uint64), 3)
    assert buf == bytes([0x90, 0x03, 0x05])
    with pytest.raises(ValueError, match="truncated RLE/bit-packed stream at byte 0: run header"):
        rle.decode(buf[:cut], 3, 200)


def test_truncated_bit_packed_run_raises():
    # golden 0..7 at width 3 with the last packed byte cut off
    with pytest.raises(
        ValueError, match="truncated RLE/bit-packed stream at byte 1: bit-packed run needs 3 bytes, 2 left"
    ):
        rle.decode(bytes([0x03, 0x88, 0xC6]), 3, 8)


def test_stream_shorter_than_n_raises():
    # golden two RLE runs hold 100 values; asking for 101 runs off the end
    buf = bytes([0x64, 0x00, 0x64, 0x01])
    with pytest.raises(ValueError, match="at byte 4: run header missing after 100 of 101 values"):
        rle.decode(buf, 1, 101)


def test_len_prefixed_truncated_payload_raises():
    buf = rle.encode_len_prefixed(np.arange(16, dtype=np.uint64) % 5, 3)
    with pytest.raises(ValueError, match="truncated RLE/bit-packed stream"):
        rle.decode_len_prefixed(buf[:-1], 3, 16)


# --- pinned edges against the pre-vectorization kernels ---------------------


def _same_as_oracle(vals, width):
    buf = rle.encode(vals, width)
    assert buf == _kernel_oracle.encode(vals, width)
    np.testing.assert_array_equal(rle.decode(buf, width, len(vals)), vals)
    np.testing.assert_array_equal(
        rle.decode(buf, width, len(vals)), _kernel_oracle.decode(buf, width, len(vals))
    )
    return buf


@pytest.mark.parametrize("run_len", [9, 12, 30])
def test_oracle_run_crossing_504_split(run_len):
    # 500 non-repeating values then an equal run over value 504, where the
    # first bit-packed run closes at 63 groups
    vals = np.concatenate([np.arange(500, dtype=np.uint64) % 7, np.full(run_len, 7, np.uint64)])
    _same_as_oracle(vals, 3)


@pytest.mark.parametrize("groups", [62, 63, 64, 126])
@pytest.mark.parametrize("tail", [[3, 3, 3], [3, 4, 3]])
def test_oracle_final_flush_open_groups(groups, tail):
    # 63 (or 126) closed groups leave no open group, so an all-equal tail
    # becomes a short RLE run; 62 or 64 leave one open and the tail is padded
    vals = np.concatenate([np.arange(8 * groups, dtype=np.uint64) % 3, np.array(tail, np.uint64)])
    buf = _same_as_oracle(vals, 3)
    tail_is_rle = groups % 63 == 0 and len(set(tail)) == 1
    assert (buf[-2:] == bytes([len(tail) << 1, 3])) == tail_is_rle


def test_oracle_all_rle_with_short_tail_run():
    vals = np.array([5] * 10 + [3] * 3, np.uint64)
    assert _same_as_oracle(vals, 3) == bytes([0x14, 0x05, 0x06, 0x03])


@pytest.mark.parametrize("n", [1, 5, 8, 20, 600])
def test_oracle_width_zero(n):
    _same_as_oracle(np.zeros(n, np.uint64), 0)
