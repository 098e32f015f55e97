"""Definition/repetition level coding for nullable and nested columns.

Reference ``LevelEncoder``/``LevelDecoder`` (``src/encodings/levels.rs:33-272``):
levels are small ints encoded with the RLE/bit-packed hybrid at
``bit_width = log2(max_level + 1)``; the v1 framing prefixes the hybrid
payload with its 4-byte LE length (``src/encodings/levels.rs:134-141``),
v2 writes it raw.

Our primary corpus is non-null (``max_def_level = 0`` fast path, reference
``src/column/writer.rs:319-322``), but nullable columns ride through here:
a validity mask becomes def levels 0/1 (Arrow's validity bitmap semantics);
repeated (list) columns get rep levels 0/1 where 0 marks record starts —
record shredding exactly as ``src/column/writer.rs:304-345``.
"""

from __future__ import annotations

import numpy as np

from .codecs import bitpack, rle


def level_bit_width(max_level: int) -> int:
    """bit width = log2(max_level + 1), reference src/encodings/levels.rs:39."""
    if max_level == 0:
        return 0
    return bitpack.num_required_bits(max_level)


def encode_v1(levels: np.ndarray, max_level: int) -> bytes:
    """RLE hybrid with 4-byte LE length prefix (data page v1 framing)."""
    width = level_bit_width(max_level)
    return rle.encode_len_prefixed(np.ascontiguousarray(levels, np.uint64), width)


def decode_v1(buf: bytes | np.ndarray, max_level: int, n: int) -> tuple[np.ndarray, int]:
    """-> (levels, bytes consumed)."""
    width = level_bit_width(max_level)
    return rle.decode_len_prefixed(buf, width, n)


# --- shredding helpers (values <-> levels + dense values) -------------------


def assemble_nullable(def_levels: np.ndarray, dense: np.ndarray, fill=0) -> tuple[np.ndarray, np.ndarray]:
    """Inverse: scatter dense values back; returns (values, validity mask)."""
    valid = def_levels.astype(bool)
    # dense.dtype unconditionally: an empty numpy array still carries its
    # dtype, and an all-null float64 chunk must not decode as int32.
    out = np.full(len(def_levels), fill, dtype=dense.dtype)
    out[valid] = dense
    return out, valid


def shred_lists(offsets: np.ndarray) -> np.ndarray:
    """Rep levels for a non-null list column given element offsets: 0 at each
    record start, 1 inside (rows counted where rep == 0,
    reference src/column/writer.rs:325-345)."""
    n = int(offsets[-1])
    rep = np.ones(n, dtype=np.uint64)
    starts = offsets[:-1][np.diff(offsets) > 0]
    rep[starts] = 0
    return rep
