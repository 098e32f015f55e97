"""DELTA_BINARY_PACKED — frame-of-reference over deltas (the flagship codec
for monotone int32 token streams).

Layout (reference ``DeltaBitPackEncoder``, ``src/encodings/encoding.rs:506-652``)::

    header    := uleb(block_size=128) uleb(num_mini_blocks=4)
                 uleb(total_value_count) zigzag_uleb(first_value)
    block     := zigzag_uleb(min_delta) <4 miniblock bit-width bytes>
                 <miniblocks bit-packed at their own widths>

- deltas use *wrapping* int32 (or int64) subtraction
  (``src/encodings/encoding.rs:748-768``);
- each block's min_delta is subtracted so packed values are unsigned
  (``flush_block_values``, ``src/encodings/encoding.rs:593-652``);
- the last partial miniblock is zero-padded to 32 values; fully-empty
  trailing miniblocks get width 0 and no payload;
- decode is cumulative wrapping add (``src/encodings/decoding.rs:535-572``),
  done as one uint64 ``np.cumsum`` mod 2**32 / 2**64.

Fully vectorized across blocks: per-block mins/widths come from one reshape,
miniblock payloads are packed in batches *grouped by bit width* (<= 65
vectorized pack calls regardless of input size), and the variable-length
output is assembled with one offset-scatter.
"""

from __future__ import annotations

import numpy as np

from . import bitpack

BLOCK_SIZE = 128
NUM_MINI_BLOCKS = 4
MINI_BLOCK_SIZE = BLOCK_SIZE // NUM_MINI_BLOCKS  # 32

_I32 = {"int32": (np.uint32, np.int32, 32), "int64": (np.uint64, np.int64, 64)}

_POW2 = (np.uint64(1) << np.arange(64, dtype=np.uint64)).astype(np.uint64)


def _bit_widths(x: np.ndarray) -> np.ndarray:
    """Exact vectorized bit_length for uint64 values: count of powers of two
    <= x via binary search over the 64 thresholds (6 comparisons per value
    instead of the 64 a broadcast >= matrix pays)."""
    return np.searchsorted(_POW2, x, side="right").astype(np.uint8)


def _zigzag_array(v: np.ndarray) -> np.ndarray:
    s = v.astype(np.int64)
    return ((s << 1) ^ (s >> 63)).view(np.uint64)


def encode(values: np.ndarray, dtype: str = "int32") -> bytes:
    utype, itype, nbits = _I32[dtype]
    v = np.ascontiguousarray(values, dtype=itype).view(utype).astype(np.uint64)
    n = v.size
    first = int(v[0]) if n else 0
    first_signed = first - (1 << nbits) if first >= (1 << (nbits - 1)) else first

    header = (
        bitpack.uleb128_encode(BLOCK_SIZE)
        + bitpack.uleb128_encode(NUM_MINI_BLOCKS)
        + bitpack.uleb128_encode(n)
        + bitpack.uleb128_encode(bitpack.zigzag_encode(first_signed))
    )
    if n <= 1:
        return header

    mask = np.uint64((1 << nbits) - 1) if nbits < 64 else np.uint64(0xFFFFFFFFFFFFFFFF)
    deltas = (v[1:] - v[:-1]) & mask  # wrapping subtraction in the uint domain
    nd = deltas.size
    nblocks = (nd + BLOCK_SIZE - 1) // BLOCK_SIZE

    # signed view of wrapped deltas, padding with +max so block mins ignore it
    if nbits == 64:
        signed = deltas.view(np.int64)
    else:
        signed = deltas.astype(np.int64)
        signed = np.where(deltas >= np.uint64(1 << (nbits - 1)), signed - (1 << nbits), signed)
    spad = np.full(nblocks * BLOCK_SIZE, np.iinfo(np.int64).max, dtype=np.int64)
    spad[:nd] = signed
    block_mins = spad.reshape(nblocks, BLOCK_SIZE).min(axis=1)  # int64 per block

    # (deltas - min) wrapped back into the unsigned domain; padding -> 0
    upad = np.zeros(nblocks * BLOCK_SIZE, dtype=np.uint64)
    upad[:nd] = deltas
    sub = (upad.reshape(nblocks, BLOCK_SIZE) - block_mins.view(np.uint64)[:, None]) & mask
    sub.reshape(-1)[nd:] = 0  # reference pads with literal zeros

    mbs = sub.reshape(nblocks, NUM_MINI_BLOCKS, MINI_BLOCK_SIZE)
    widths = _bit_widths(mbs.max(axis=2).reshape(-1)).reshape(nblocks, NUM_MINI_BLOCKS)
    # fully-empty trailing miniblocks (no data at all) carry width 0, no bytes
    block_valid = np.minimum(np.maximum(nd - np.arange(nblocks) * BLOCK_SIZE, 0), BLOCK_SIZE)
    mb_has_data = (
        np.arange(NUM_MINI_BLOCKS)[None, :] * MINI_BLOCK_SIZE < block_valid[:, None]
    )
    widths = np.where(mb_has_data, widths, 0).astype(np.uint8)
    mb_bytes = np.where(mb_has_data, widths.astype(np.int64) * (MINI_BLOCK_SIZE // 8), 0)

    # per-block variable-length headers (zigzag uleb of min_delta)
    hdr_bytes, hdr_lens = bitpack.uleb128_encode_array(_zigzag_array(block_mins))

    block_sizes = hdr_lens + NUM_MINI_BLOCKS + mb_bytes.sum(axis=1)
    block_off = np.concatenate(([0], np.cumsum(block_sizes)))
    out = np.zeros(int(block_off[-1]), dtype=np.uint8)

    # scatter headers (repeat-index trick)
    hdr_dst = np.repeat(block_off[:-1], hdr_lens) + (
        np.arange(int(hdr_lens.sum())) - np.repeat(np.concatenate(([0], np.cumsum(hdr_lens)[:-1])), hdr_lens)
    )
    out[hdr_dst] = hdr_bytes
    # widths at fixed offset after each header
    w_off = block_off[:-1] + hdr_lens
    for m in range(NUM_MINI_BLOCKS):
        out[w_off + m] = widths[:, m]
    # miniblock payload positions
    mb_off = (w_off + NUM_MINI_BLOCKS)[:, None] + np.concatenate(
        (np.zeros((nblocks, 1), np.int64), np.cumsum(mb_bytes, axis=1)[:, :-1]), axis=1
    )
    # pack miniblocks in batches grouped by width
    flat_w = widths.reshape(-1)
    flat_off = mb_off.reshape(-1)
    flat_mbs = mbs.reshape(-1, MINI_BLOCK_SIZE)
    flat_has = mb_has_data.reshape(-1)
    for w in np.unique(flat_w[flat_has & (flat_w > 0)]):
        sel = np.flatnonzero(flat_has & (flat_w == w))
        packed = np.frombuffer(
            bitpack.pack(flat_mbs[sel].reshape(-1), int(w)), dtype=np.uint8
        ).reshape(len(sel), int(w) * (MINI_BLOCK_SIZE // 8))
        nb = packed.shape[1]
        dst = flat_off[sel][:, None] + np.arange(nb)[None, :]
        out[dst.reshape(-1)] = packed.reshape(-1)
    return header + out.tobytes()


def decode_stream(
    buf: bytes | np.ndarray, dtype: str = "int32"
) -> tuple[np.ndarray, int]:
    """Decode ONE self-delimiting DELTA_BINARY_PACKED stream from the head
    of ``buf`` -> (all ``total_value_count`` values, bytes consumed).

    Real parquet embeds these streams back-to-back with no outer framing
    (DELTA_BYTE_ARRAY = prefix stream + suffix-length stream + raw suffix
    bytes), so the consumer needs the end position — the stream is only
    delimited by walking its own block headers, which the layout pass here
    does anyway. Trailing bytes after the last block are ignored."""
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    return _decode_impl(raw, None, dtype)


def decode(buf: bytes | np.ndarray, n: int | None = None, dtype: str = "int32") -> np.ndarray:
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    return _decode_impl(raw, n, dtype)[0]


def _truncated(pos: int, what: str) -> ValueError:
    return ValueError(f"truncated DELTA_BINARY_PACKED stream at byte {pos}: {what}")


def _decode_impl(
    raw: np.ndarray, n: int | None, dtype: str
) -> tuple[np.ndarray, int]:
    utype, itype, nbits = _I32[dtype]
    data = memoryview(raw)
    pos = 0
    block_size, pos = bitpack.uleb128_decode(data, pos)
    num_mini, pos = bitpack.uleb128_decode(data, pos)
    total, pos = bitpack.uleb128_decode(data, pos)
    zz_first, pos = bitpack.uleb128_decode(data, pos)
    first = bitpack.zigzag_decode(zz_first)
    if n is None:
        n = total
    if n == 0 or total == 0:
        # consumed is exact only when the stream itself is empty (total=0);
        # an n=0 truncating read of a non-empty stream doesn't walk blocks
        return np.empty(0, dtype=itype), pos
    mini_size = block_size // num_mini
    mask = (1 << nbits) - 1

    nd = total - 1
    nblocks = (nd + block_size - 1) // block_size

    # pass 1: walk per-block headers (cheap integer parses), record layout
    mins = np.empty(nblocks, dtype=np.int64)
    widths = np.empty((nblocks, num_mini), dtype=np.uint8)
    mb_off = np.empty((nblocks, num_mini), dtype=np.int64)
    size = len(raw)
    got = 0
    for b in range(nblocks):
        zz, pos = bitpack.uleb128_decode(data, pos)
        mins[b] = bitpack.zigzag_decode(zz)
        if pos + num_mini > size:
            raise _truncated(pos, f"block {b} needs {num_mini} miniblock widths, {size - pos} left")
        widths[b] = data[pos : pos + num_mini]
        pos += num_mini
        start = pos
        for m in range(num_mini):
            has = got < nd
            mb_off[b, m] = pos if has else -1
            if has:
                pos += int(widths[b, m]) * mini_size // 8
                got += mini_size
        if pos > size:
            raise _truncated(start, f"block {b} miniblocks need {pos - start} bytes, {size - start} left")
    got = min(got, nd)

    # pass 2: unpack miniblocks grouped by width
    deltas = np.empty(nblocks * block_size, dtype=np.uint64)
    flat_w = widths.reshape(-1)
    flat_off = mb_off.reshape(-1)
    has = flat_off >= 0
    for w in np.unique(flat_w[has]):
        sel = np.flatnonzero(has & (flat_w == w))
        w = int(w)
        if w == 0:
            dst = (sel[:, None] * mini_size + np.arange(mini_size)[None, :]).reshape(-1)
            deltas[dst] = 0
            continue
        nb = w * mini_size // 8
        src = flat_off[sel][:, None] + np.arange(nb)[None, :]
        vals = bitpack.unpack(raw[src.reshape(-1)], w, len(sel) * mini_size)
        dst = (sel[:, None] * mini_size + np.arange(mini_size)[None, :]).reshape(-1)
        deltas[dst] = vals
    # add per-block min_delta (wrapped) and truncate padding
    deltas = deltas.reshape(nblocks, block_size)
    deltas = (deltas + mins.view(np.uint64)[:, None]) & np.uint64(mask)
    deltas = deltas.reshape(-1)[:nd]

    # cumulative wrapping add in uint64 (exact mod-2**nbits arithmetic)
    acc = np.empty(total, dtype=np.uint64)
    acc[0] = np.uint64(first & mask)
    acc[1:] = np.cumsum(deltas, dtype=np.uint64)
    acc[1:] = (acc[1:] + acc[0]) & np.uint64(mask)
    if nbits == 32:
        result = acc.astype(np.uint32).view(np.int32)
    else:
        result = acc.view(np.int64)
    return result[:n], pos
