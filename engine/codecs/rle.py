"""RLE / bit-packed hybrid encoding (parquet grammar).

Grammar (reference ``src/encodings/rle.rs:29-47``)::

    encoded-data      := <run>*
    run               := <bit-packed-run> | <rle-run>
    bit-packed-run    := varint(groups << 1 | 1) <bit-packed groups of 8 values>
    rle-run           := varint(count << 1) <value in ceil(bit_width/8) LE bytes>

Run-formation semantics reproduce the reference encoder's 8-value buffered
state machine (``src/encodings/rle.rs:152-316``) at *run* granularity instead
of value granularity, so the hot path is numpy over maximal runs:

- values are conceptually buffered in groups of 8; a group whose 8 values are
  all equal (and any continuation of that value) becomes an RLE run
  (``put``, ``src/encodings/rle.rs:152-184``);
- group alignment is measured from the end of the previous RLE run (the
  buffer resets at ``flush_rle_run``, ``src/encodings/rle.rs:246-260``);
- bit-packed runs hold at most 63 groups = 504 values
  (``MAX_GROUPS_PER_BIT_PACKED_RUN``, flush check ``src/encodings/rle.rs:293-316``);
- the final flush emits a short RLE run when the remaining (<8) buffered
  values are all equal and no bit-packed group is open, else zero-pads the
  last group (``flush``, ``src/encodings/rle.rs:219-244``).

The encoder works per stream, not per run: the span scan above yields the
RLE runs; every value between them goes through one ``bitpack.pack`` call
(each mid-stream segment is whole 8-value groups, so each bit-packed run is
a byte-aligned slice of that buffer); all run headers come from one
``uleb128_encode_array``; and the output is one preallocated buffer filled
by offset arithmetic. This reproduces the reference's bytes on the golden
vectors (``src/encodings/rle.rs:667-721``) and always emits valid, compact
grammar.

The decoder walks the run headers over the byte buffer, bounds-checking
each header, RLE value and bit-packed run, then materializes all runs in
one batch.
"""

from __future__ import annotations

import numpy as np

from . import bitpack

MAX_GROUPS_PER_BIT_PACKED_RUN = 63  # 504 values


def _runs(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Maximal-run decomposition -> (run start indices, run lengths)."""
    n = len(values)
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    change = np.flatnonzero(values[1:] != values[:-1]) + 1
    starts = np.concatenate(([0], change))
    lengths = np.diff(np.concatenate((starts, [n])))
    return starts, lengths


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenated ``arange(s, s + l)`` over paired starts and lengths."""
    ends = np.cumsum(lens)
    return np.repeat(starts - (ends - lens), lens) + np.arange(ends[-1] if ends.size else 0)


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
    # values that fall inside a partially-filled group stay bit-packed. Each
    # span depends on the previous reset, so this stays a loop over runs >= 8.
    rle_starts: list[int] = []
    rle_lens: list[int] = []
    reset_pos = 0
    long_runs = lengths >= 8
    for s, length in zip(starts[long_runs].tolist(), lengths[long_runs].tolist()):
        head = (reset_pos - s) % 8
        if length - head >= 8:
            rle_starts.append(s + head)
            rle_lens.append(length - head)
            reset_pos = s + length

    # --- final flush semantics -------------------------------------------
    tail = (n - reset_pos) % 8
    open_groups = (n - reset_pos) // 8 % MAX_GROUPS_PER_BIT_PACKED_RUN
    if tail and open_groups == 0 and bool(np.all(v[n - tail :] == v[n - tail])):
        rle_starts.append(n - tail)
        rle_lens.append(tail)
    rle_start = np.array(rle_starts, dtype=np.int64)
    rle_len = np.array(rle_lens, dtype=np.int64)

    # --- bit-packed segments: one before each RLE run, one after the last --
    # Every segment but the last is whole 8-value groups; the last is
    # zero-padded, so one pack of all of them is byte-aligned per run.
    seg_begin = np.concatenate(([0], rle_start + rle_len))
    seg_len = np.concatenate((rle_start, [n])) - seg_begin
    seg_groups = (seg_len + 7) // 8
    alternating = np.empty(2 * rle_len.size + 1, dtype=np.int64)  # seg, rle, seg, ...
    alternating[0::2] = seg_len
    alternating[1::2] = rle_len
    is_bp = np.repeat(np.arange(alternating.size) % 2 == 0, alternating)
    bp = np.zeros(8 * int(seg_groups.sum()), dtype=np.uint64)
    bp[: n - int(rle_len.sum())] = v[is_bp]
    packed = np.frombuffer(bitpack.pack(bp, bit_width), dtype=np.uint8)

    # split each segment into runs of <= 63 groups
    max_groups = MAX_GROUPS_PER_BIT_PACKED_RUN
    seg_runs = -(-seg_groups // max_groups)
    run_seg = np.repeat(np.arange(seg_groups.size), seg_runs)
    run_idx = np.arange(run_seg.size) - (np.cumsum(seg_runs) - seg_runs)[run_seg]
    run_groups = np.minimum(seg_groups[run_seg] - run_idx * max_groups, max_groups)
    run_begin = seg_begin[run_seg] + run_idx * 8 * max_groups

    # --- assemble: runs in stream order (sorted by first value index) -------
    # Headers and RLE values are scattered by offset; the packed bytes fill
    # the positions left over, in order.
    vbytes = (bit_width + 7) // 8
    order = np.argsort(np.concatenate((run_begin, rle_start)), kind="stable")
    headers = np.concatenate((run_groups << 1 | 1, rle_len << 1))[order]
    body = np.concatenate((run_groups * bit_width, np.full(rle_len.size, vbytes)))[order]
    hdr_bytes, hdr_lens = bitpack.uleb128_encode_array(headers)
    size = hdr_lens + body
    run_off = np.cumsum(size) - size
    body_off = np.empty_like(run_off)
    body_off[order] = run_off + hdr_lens
    rle_vals = v[rle_start].astype("<u8").view(np.uint8).reshape(-1, 8)[:, :vbytes]
    meta = np.concatenate(
        (
            _ranges(run_off, hdr_lens),
            _ranges(body_off[run_groups.size :], np.full(rle_len.size, vbytes)),
        )
    )
    out = np.empty(int(size.sum()), dtype=np.uint8)
    is_packed = np.ones(out.size, dtype=bool)
    is_packed[meta] = False
    out[meta] = np.concatenate((hdr_bytes, rle_vals.reshape(-1)))
    out[is_packed] = packed
    return out.tobytes()


def _truncated(pos: int, what: str) -> ValueError:
    return ValueError(f"truncated RLE/bit-packed stream at byte {pos}: {what}")


def decode(buf: bytes | np.ndarray, bit_width: int, n: int) -> np.ndarray:
    """Decode ``n`` values from hybrid-encoded ``buf`` -> uint64 array.

    Batch equivalent of the reference's ``RleDecoder::get_batch``
    (``src/encodings/rle.rs:398-434``): each run materializes as one
    vectorized numpy op; trailing zero-padding beyond ``n`` is dropped.
    A stream that ends before ``n`` values (in a header, an RLE value or a
    bit-packed run) raises ``ValueError``.
    """
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    data = memoryview(buf)
    raw = np.frombuffer(data, dtype=np.uint8)
    size = len(data)
    vbytes = (bit_width + 7) // 8

    # pass 1: walk run headers over the byte buffer (one varint per run —
    # bounded by run count; a fully vectorized chain resolution was tried and
    # lost: it must consider every byte position while this loop touches
    # only real headers)
    rle_vals = []
    rle_counts = []
    rle_outs = []
    bp_slices = []
    bp_counts = []
    bp_outs = []
    got = 0
    pos = 0
    while got < n:
        if pos >= size:
            raise _truncated(pos, f"run header missing after {got} of {n} values")
        header = data[pos]
        if header & 0x80:  # multi-byte header
            try:
                header, pos = bitpack.uleb128_decode(data, pos)
            except ValueError:
                raise _truncated(pos, f"run header cut off after {got} of {n} values") from None
        else:
            pos += 1
        if header & 1:  # bit-packed run
            count = (header >> 1) * 8
            nbytes = (header >> 1) * bit_width
            if pos + nbytes > size:
                raise _truncated(pos, f"bit-packed run needs {nbytes} bytes, {size - pos} left")
            bp_slices.append((pos, nbytes))
            bp_counts.append(count)
            bp_outs.append(got)
            pos += nbytes
        else:  # rle run
            count = header >> 1
            if pos + vbytes > size:
                raise _truncated(pos, f"RLE value needs {vbytes} bytes, {size - pos} left")
            rle_vals.append(int.from_bytes(data[pos : pos + vbytes], "little"))
            rle_counts.append(count)
            rle_outs.append(got)
            pos += vbytes
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
        out[~mask] = bitpack.unpack(allbytes, bit_width, int(sum(bp_counts)))
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
        out = bitpack.unpack(allbytes, bit_width, int(sum(bp_counts)))
    return out[:n]


# --- length-prefixed form (levels v1 / boolean RLE value encoding) ---------


def encode_len_prefixed(values: np.ndarray, bit_width: int) -> bytes:
    """Hybrid payload prefixed with its 4-byte LE length — the framing used by
    v1 levels (``src/encodings/levels.rs:134-141``) and the BOOLEAN
    RLE value encoder (``src/encodings/encoding.rs:445-460``)."""
    payload = encode(values, bit_width)
    return len(payload).to_bytes(4, "little") + payload


def decode_len_prefixed(buf: bytes | np.ndarray, bit_width: int, n: int) -> tuple[np.ndarray, int]:
    raw = np.frombuffer(buf, dtype=np.uint8) if not isinstance(buf, np.ndarray) else buf
    length = int.from_bytes(raw[:4].tobytes(), "little")
    return decode(raw[4 : 4 + length], bit_width, n), 4 + length
