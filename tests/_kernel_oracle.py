"""Differential oracle: the hybrid RLE/bit-packed encoder and decoder and
the bit-matrix ``unpack`` as they were before the engine's kernels moved to
one pack per stream, a byte-buffer header walk and a word-gather unpack.

The bodies are kept as they were; the decoder calls this module's own
``unpack`` and ``uleb128_decode``, so it shares no decode kernel with the
engine. Tests compare the engine's kernels against these on arbitrary input.
"""

from __future__ import annotations

import numpy as np

from engine.codecs import bitpack

MAX_VALUES_PER_BIT_PACKED_RUN = 504  # 63 groups of 8


def _runs(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Maximal-run decomposition -> (run start indices, run lengths)."""
    n = len(values)
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    change = np.flatnonzero(values[1:] != values[:-1]) + 1
    starts = np.concatenate(([0], change))
    lengths = np.diff(np.concatenate((starts, [n])))
    return starts, lengths


def _emit_bit_packed(out: list[bytes], seg: np.ndarray, bit_width: int, pad: bool) -> None:
    """Emit one segment as bit-packed runs of <=504 values (63 groups each).

    ``pad``: zero-pad the final partial group (only legal at end of stream).
    """
    n = len(seg)
    if n == 0:
        return
    if n % 8:
        if not pad:
            raise AssertionError("mid-stream bit-packed segment not multiple of 8")
        seg = np.concatenate((seg, np.zeros(8 - n % 8, dtype=seg.dtype)))
        n = len(seg)
    for off in range(0, n, MAX_VALUES_PER_BIT_PACKED_RUN):
        part = seg[off : off + MAX_VALUES_PER_BIT_PACKED_RUN]
        groups = len(part) // 8
        out.append(bitpack.uleb128_encode(groups << 1 | 1))
        out.append(bitpack.pack(part, bit_width))


def _emit_rle(out: list[bytes], value: int, count: int, bit_width: int) -> None:
    out.append(bitpack.uleb128_encode(count << 1))
    vbytes = (bit_width + 7) // 8
    out.append(int(value).to_bytes(vbytes, "little"))


def encode(values: np.ndarray, bit_width: int) -> bytes:
    """Encode non-negative ints (< 2**bit_width) as the RLE/bit-packed hybrid."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.size
    if n == 0:
        return b""
    starts, lengths = _runs(v)

    # --- replay the reference's buffer state machine at run granularity ----
    # An RLE run forms when a maximal run fills a whole 8-value group measured
    # from the last reset point (end of previous RLE run); the run's leading
    # values that fall inside a partially-filled group stay bit-packed.
    rle_spans: list[tuple[int, int]] = []  # (start, length) in value coords
    reset_pos = 0
    for j in np.flatnonzero(lengths >= 8):
        s = int(starts[j])
        if s < reset_pos:  # inside a previously committed span (cannot happen)
            continue
        nb = (s - reset_pos) % 8
        head = (8 - nb) % 8
        body = int(lengths[j]) - head
        if body >= 8:
            rle_spans.append((s + head, body))
            reset_pos = s + head + body

    out: list[bytes] = []
    pos = 0
    for span_start, span_len in rle_spans:
        _emit_bit_packed(out, v[pos:span_start], bit_width, pad=False)
        _emit_rle(out, int(v[span_start]), span_len, bit_width)
        pos = span_start + span_len

    # --- final flush semantics -------------------------------------------
    m = n - pos
    tail = m % 8
    full = m - tail
    open_groups = (full // 8) % 63
    if tail and open_groups == 0 and bool(np.all(v[n - tail :] == v[n - tail])):
        _emit_bit_packed(out, v[pos : pos + full], bit_width, pad=False)
        _emit_rle(out, int(v[n - tail]), tail, bit_width)
    else:
        _emit_bit_packed(out, v[pos:], bit_width, pad=True)
    return b"".join(out)


def decode(buf: bytes | np.ndarray, bit_width: int, n: int) -> np.ndarray:
    """Decode ``n`` values from hybrid-encoded ``buf`` -> uint64 array.

    Batch equivalent of the reference's ``RleDecoder::get_batch``
    (``src/encodings/rle.rs:398-434``): each run materializes as one
    vectorized numpy op; trailing zero-padding beyond ``n`` is dropped.
    """
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    vbytes = (bit_width + 7) // 8

    # pass 1: walk run headers (scalar parses, one per run — bounded by run
    # count; a fully vectorized chain resolution was tried and lost: it must
    # consider every byte position while this loop touches only real headers)
    rle_vals = []
    rle_counts = []
    rle_outs = []
    bp_slices = []
    bp_counts = []
    bp_outs = []
    got = 0
    pos = 0
    while got < n:
        header, pos = uleb128_decode(raw, pos)
        if header & 1:  # bit-packed run
            count = (header >> 1) * 8
            nbytes = count * bit_width // 8
            bp_slices.append((pos, nbytes))
            bp_counts.append(count)
            bp_outs.append(got)
            pos += nbytes
        else:  # rle run
            count = header >> 1
            value = (
                int.from_bytes(raw[pos : pos + vbytes].tobytes(), "little")
                if vbytes
                else 0
            )
            pos += vbytes
            rle_vals.append(value)
            rle_counts.append(count)
            rle_outs.append(got)
        got += count

    # pass 2: batch materialization (the batch analogue of the reference's
    # get_batch, src/encodings/rle.rs:398-434). Runs cover contiguous output
    # intervals, so one interval mask (bincount + cumsum) routes a single
    # np.repeat of RLE values and a single batch unpack of all bit-packed
    # bytes into place — no per-run ops, no explicit index arrays.
    out = np.empty(got, dtype=np.uint64)
    if len(rle_vals) and bp_counts:
        starts = np.asarray(rle_outs, dtype=np.int64)
        counts = np.asarray(rle_counts, dtype=np.int64)
        diff = np.bincount(starts, minlength=got + 1) - np.bincount(
            starts + counts, minlength=got + 1
        )
        mask = np.cumsum(diff)[:got] > 0
        out[mask] = np.repeat(np.asarray(rle_vals, dtype=np.uint64), counts)
        allbytes = np.concatenate([raw[s : s + nb] for s, nb in bp_slices])
        out[~mask] = unpack(allbytes, bit_width, int(sum(bp_counts)))
    elif len(rle_vals):
        out = np.repeat(
            np.asarray(rle_vals, dtype=np.uint64),
            np.asarray(rle_counts, dtype=np.int64),
        )
    elif bp_counts:
        if len(bp_slices) == 1:
            s, nb = bp_slices[0]
            allbytes = raw[s : s + nb]
        else:
            allbytes = np.concatenate([raw[s : s + nb] for s, nb in bp_slices])
        out = unpack(allbytes, bit_width, int(sum(bp_counts)))
    return out[:n]


def unpack(buf: bytes | np.ndarray, bit_width: int, n: int) -> np.ndarray:
    """Inverse of :func:`pack`; returns uint64 array of length ``n``."""
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if bit_width == 0:
        return np.zeros(n, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    nbits = n * bit_width
    if raw.size * 8 < nbits:
        raise ValueError(f"buffer too small: {raw.size} bytes for {nbits} bits")
    dt = bitpack._store_dtype(bit_width)
    bits = np.unpackbits(raw[: (nbits + 7) // 8], bitorder="little", count=nbits)
    out_bits = np.zeros((n, 8 * dt.itemsize), dtype=np.uint8)
    out_bits[:, :bit_width] = bits.reshape(n, bit_width)
    le_bytes = np.packbits(out_bits, axis=1, bitorder="little")
    return le_bytes.reshape(-1).view(dt).astype(np.uint64)


def uleb128_decode(buf: np.ndarray, pos: int) -> tuple[int, int]:
    """Scalar decode; returns (value, new_pos)."""
    result = 0
    shift = 0
    while True:
        b = int(buf[pos])
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
