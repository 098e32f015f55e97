"""Bit-level kernels: fixed-width bit-packing, ULEB128 varints, zigzag.

Semantics match the reference's bit utilities:
- LSB-first bit packing identical to ``BitWriter::put_value`` /
  ``BitReader::get_batch`` (reference ``src/util/bit_util.rs:266-298,456-528``)
  and the generated ``unpack32`` kernels (``src/util/bit_packing.rs:29-64``).
- ULEB128 as ``put_vlq_int`` (``src/util/bit_util.rs:342-358``).
- Zigzag as ``put_zigzag_vlq_int`` (``src/util/bit_util.rs:359-366``).

Everything is vectorized numpy — no per-value Python in any hot path.
"""

from __future__ import annotations

import numpy as np

MAX_WIDTH = 64  # widths 0..32 for i32 streams; up to 64 for i64 deltas


def _store_dtype(bit_width: int) -> np.dtype:
    if bit_width <= 8:
        return np.dtype("<u1")
    if bit_width <= 16:
        return np.dtype("<u2")
    if bit_width <= 32:
        return np.dtype("<u4")
    return np.dtype("<u8")


def pack(values: np.ndarray, bit_width: int) -> bytes:
    """Pack ``values`` (non-negative, < 2**bit_width) LSB-first at ``bit_width``
    bits each, little-endian within bytes — parquet bit-packed layout.

    bit j of value i lands at overall bit position ``i*bit_width + j``.
    Implementation stays entirely in uint8: each value's LE bytes are
    bit-exploded with ``np.unpackbits`` and the first ``bit_width`` bit
    columns are re-packed — no (n, w) uint64 temporaries.
    """
    n = len(values)
    if bit_width == 0 or n == 0:
        return b""
    if not 0 < bit_width <= MAX_WIDTH:
        raise ValueError(f"bit_width out of range: {bit_width}")
    dt = _store_dtype(bit_width)
    v = np.ascontiguousarray(values, dtype=dt)
    # (n, 8*itemsize) bit matrix, LSB-first within each value
    bits = np.unpackbits(v.view(np.uint8).reshape(n, dt.itemsize), axis=1, bitorder="little")
    return np.packbits(bits[:, :bit_width].reshape(-1), bitorder="little").tobytes()


def unpack(buf: bytes | np.ndarray, bit_width: int, n: int) -> np.ndarray:
    """Inverse of :func:`pack`; returns uint64 array of length ``n``.

    Word gather, the batch form of the reference's ``unpack32``
    (``src/util/bit_packing.rs:29-64``): value ``i`` starts at bit ``i*w``,
    so one unaligned little-endian uint64 load at byte ``i*w >> 3`` (a
    stride-1 uint64 view over the input padded by 9 bytes), a right shift by
    ``(i*w) & 7`` and a mask recover it. A value of 58-64 bits can spill
    into a ninth byte; its bits come in as ``byte[b+8] << (64 - shift)``
    (zero where ``shift`` is 0 — numpy shifts by >= 64 yield 0).
    """
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if bit_width == 0:
        return np.zeros(n, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    nbits = n * bit_width
    if raw.size * 8 < nbits:
        raise ValueError(f"buffer too small: {raw.size} bytes for {nbits} bits")
    nbytes = (nbits + 7) // 8
    padded = np.zeros(nbytes + 9, dtype=np.uint8)
    padded[:nbytes] = raw[:nbytes]
    words = np.ndarray((nbytes,), dtype="<u8", buffer=padded, strides=(1,))
    bitpos = np.arange(n, dtype=np.int64) * bit_width
    first = bitpos >> 3
    shift = (bitpos & 7).view(np.uint64)
    out = np.take(words, first)
    out >>= shift
    if bit_width > 57:
        out |= np.take(padded, first + 8).astype(np.uint64) << (np.uint64(64) - shift)
    out &= np.uint64((1 << bit_width) - 1)
    return out


def num_required_bits(x: int) -> int:
    """Bits needed to represent unsigned ``x`` (0 -> 0); reference
    ``num_required_bits``/``log2`` semantics (``src/util/bit_util.rs:91-102``)."""
    return int(x).bit_length()


def dict_bit_width(num_entries: int) -> int:
    """Index width for a dictionary of ``num_entries`` values — 0 for empty,
    1 for a single entry, else ceil(log2(n)); reference
    ``DictEncoder::bit_width`` (``src/encodings/encoding.rs:325-334``)."""
    if num_entries == 0:
        return 0
    if num_entries == 1:
        return 1
    return num_required_bits(num_entries - 1)


# ---------------------------------------------------------------------------
# ULEB128 varints (vectorized batch forms + scalar helpers for headers)
# ---------------------------------------------------------------------------

_ULEB_THRESHOLDS = np.array(
    [1 << 7, 1 << 14, 1 << 21, 1 << 28, 1 << 35, 1 << 42, 1 << 49, 1 << 56, 1 << 63],
    dtype=np.uint64,
)


def uleb128_encode_array(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized ULEB128 of a uint64 array.

    Returns (bytes_out uint8 array, per-value byte lengths).
    """
    x = np.ascontiguousarray(arr, dtype=np.uint64)
    n = x.size
    if n == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    nbytes = 1 + (x[:, None] >= _ULEB_THRESHOLDS[None, :]).sum(axis=1).astype(np.int64)
    offsets = np.concatenate(([0], np.cumsum(nbytes)))
    out = np.zeros(offsets[-1], dtype=np.uint8)
    max_b = int(nbytes.max())
    for k in range(max_b):
        sel = nbytes > k
        b = ((x[sel] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[sel] > k + 1).astype(np.uint8) << 7
        out[offsets[:-1][sel] + k] = b | cont
    return out, nbytes


def uleb128_encode(value: int) -> bytes:
    """Scalar ULEB128 (headers only)."""
    out = bytearray()
    v = int(value)
    if v < 0:
        raise ValueError("uleb128 takes unsigned values")
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def uleb128_decode(buf: bytes | memoryview | np.ndarray, pos: int) -> tuple[int, int]:
    """Scalar decode of the varint at ``pos``; returns (value, new_pos).

    The one varint reader of hybrid run headers longer than one byte,
    DELTA_BINARY_PACKED block headers and chunk headers. ``buf`` is a bytes-like buffer indexed as
    Python ints; a uint8 array is read through a memoryview. A varint that
    runs past the end of ``buf`` raises ``ValueError``.
    """
    if isinstance(buf, np.ndarray):
        buf = memoryview(buf)
    result = 0
    shift = 0
    start = pos
    try:
        while True:
            b = buf[pos]
            pos += 1
            result |= (b & 0x7F) << shift
            if not b & 0x80:
                return result, pos
            shift += 7
    except IndexError:
        raise ValueError(f"truncated varint at byte {start}") from None


def zigzag_encode(value: int) -> int:
    """Signed -> unsigned zigzag (64-bit), reference ``put_zigzag_vlq_int``."""
    v = int(value)
    return ((v << 1) ^ (v >> 63)) & ((1 << 64) - 1)


def zigzag_decode(value: int) -> int:
    v = int(value)
    return (v >> 1) ^ -(v & 1)


def orbit_positions(nxt: np.ndarray, n: int) -> np.ndarray:
    """Positions visited by the walk ``0 -> nxt[0] -> ...`` while < n, via
    pointer doubling — O(n log n) vectorized resolution of a sequential
    jump chain (used by FSST's greedy matcher)."""
    if n == 0:
        return np.empty(0, dtype=np.int64)
    visited = np.zeros(n + 1, dtype=bool)
    visited[0] = True
    jump = np.concatenate((np.minimum(nxt[:n], n), [n])).astype(np.int64)
    while True:
        idx = np.flatnonzero(visited)
        before = idx.size
        visited[jump[idx]] = True
        if visited.sum() == before:
            break
        jump = jump[jump]
    return np.flatnonzero(visited[:n])


class BitWriter:
    """Append-only bit writer with parquet LSB-first semantics.

    Mirrors the reference ``BitWriter`` (``src/util/bit_util.rs:136-366``) but
    batch-oriented: callers append whole runs/arrays, never single values in a
    Python loop.
    """

    def __init__(self) -> None:
        self._parts: list[bytes] = []
        self._nbytes = 0

    def __len__(self) -> int:
        return self._nbytes

    def put_aligned_bytes(self, data: bytes) -> None:
        self._parts.append(data)
        self._nbytes += len(data)

    def put_vlq_int(self, value: int) -> None:
        self.put_aligned_bytes(uleb128_encode(value))

    def put_zigzag_vlq_int(self, value: int) -> None:
        self.put_aligned_bytes(uleb128_encode(zigzag_encode(value)))

    def put_packed(self, values: np.ndarray, bit_width: int) -> None:
        self.put_aligned_bytes(pack(values, bit_width))

    def consume(self) -> bytes:
        out = b"".join(self._parts)
        self._parts = [out]
        return out
