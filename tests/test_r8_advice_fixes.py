"""Correctness fixes taken from the round-7 ADVICE during the r8
optimization round: PARQUET-251 legacy statistics guard, UINT_32 widening
for repeated leaves, FLAC partition-order grammar check."""

import numpy as np
import pytest

from engine import parquet_compat as pc
from engine.ops import flac

from _assembly_oracle import _assemble_walk


# --- PARQUET-251: legacy min/max (fields 1/2) trust rules -------------------


def test_legacy_stats_ignored_for_byte_arrays():
    """Old parquet-mr computed BYTE_ARRAY min/max with SIGNED byte
    comparison, so legacy bounds on string columns can prune row groups
    that DO contain matching rows — they must be ignored (keep-on-absent
    then retains the group)."""
    st = {1: b"zzz", 2: b"aaa"}  # legacy max / min only
    lo, hi = pc._stats_bounds(st, 6, None)  # BYTE_ARRAY
    assert lo is None and hi is None
    lo, hi = pc._stats_bounds(st, 7, None)  # FIXED_LEN_BYTE_ARRAY
    assert lo is None and hi is None
    lo, hi = pc._stats_bounds(st, 3, None)  # INT96
    assert lo is None and hi is None


def test_legacy_stats_kept_for_signed_numerics():
    st = {1: b"\x09\x00\x00\x00", 2: b"\x01\x00\x00\x00"}
    lo, hi = pc._stats_bounds(st, 1, None)  # INT32, signed order
    assert lo == b"\x01\x00\x00\x00" and hi == b"\x09\x00\x00\x00"


def test_legacy_stats_ignored_for_unsigned_converted_ints():
    """UINT_32 rides INT32 but its type-defined order is unsigned; the
    legacy signed comparison misorders values above 2^31."""
    st = {1: b"\x01\x00\x00\x00", 2: b"\xff\xff\xff\xff"}
    lo, hi = pc._stats_bounds(st, 1, 13)  # INT32 + UINT_32
    assert lo is None and hi is None


def test_v2_bounds_always_trusted():
    st = {5: b"\x09\x00\x00\x00", 6: b"\x01\x00\x00\x00"}
    lo, hi = pc._stats_bounds(st, 6, None)
    assert lo == b"\x01\x00\x00\x00" and hi == b"\x09\x00\x00\x00"
    # mixed presence: v2 fields present -> legacy pair never consulted
    st = {1: b"JUNKMAX", 5: b"\x09", 6: b"\x01"}
    lo, hi = pc._stats_bounds(st, 1, None)
    assert lo == b"\x01" and hi == b"\x09"


# --- UINT_32 widening for repeated leaves -----------------------------------


def _uint32_list_col():
    return pc.ColumnInfo(
        path="nums", phys="int32", type_length=0, max_def=1, max_rep=1,
        encodings=[], codec=None, num_values=3, start_offset=0,
        total_compressed=0, conv=13,
        nodes=[{"name": "nums", "kind": "rep", "def": 1, "rep": 1}],
    )


def test_uint32_repeated_elements_widen_to_positive_longs():
    """A UINT_32 leaf under a repeated node must surface elements above
    2^31 as positive longs, exactly like the flat path's widening — the
    r7 shape returned negative ints (ADVICE #2)."""
    col = _uint32_list_col()
    vals = np.array([1, -1, -2], np.int32)  # 1, 2^32-1, 2^32-2 unsigned
    defs = np.array([1, 1, 1], np.uint64)
    reps = np.array([0, 1, 0], np.uint64)
    assert pc.assemble_repeated(col, vals, defs, reps).to_pylist() == [
        [1, 2**32 - 1],
        [2**32 - 2],
    ]
    # the differential-oracle walk agrees
    assert _assemble_walk(col, vals, defs, reps) == [
        [1, 2**32 - 1],
        [2**32 - 2],
    ]


def test_uint32_repeated_spark_type_is_array_long():
    assert pc._spark_type(_uint32_list_col()) == "array<bigint>".replace(
        "bigint", "long"
    )


# --- FLAC: partition order must leave samples in the first partition --------


def test_flac_rejects_partition_order_consuming_first_partition():
    """block >> porder <= predictor order means the first partition would
    hold zero or negative samples (RFC 9639 §9.2.7 requires strictly
    more); the r7 shape regressed the write position and returned
    uninitialized samples (ADVICE #5)."""
    # bits: method=0 (2 bits "00"), porder=4 ("0100" = 4) -> block 64 >>
    # 4 = 4 partitions... use block=32, porder=4 -> 32>>4 = 2 <= order 2
    bits = ("00" + "0100" + "0" * 42)  # padded to a whole number of bytes
    assert len(bits) % 8 == 0
    buf = int(bits, 2).to_bytes(len(bits) // 8, "big")
    r = flac._BitReader(buf)
    with pytest.raises(ValueError, match="first partition"):
        flac._read_residual(r, 32, 2)


# --- Arrow large-type offsets in the encode hot path ------------------------


def test_flat_from_arrow_handles_large_var_types():
    """flat_from_arrow must parse int64 offsets for large_string /
    large_binary arrays — a session running Spark with
    arrow.useLargeVarTypes=true hands the Arrow-native encoder large-type
    batches, and misreading their offsets as int32 silently corrupts every
    length (r8 review)."""
    import pyarrow as pa

    from engine.codecs import bytearrays

    for t in (pa.utf8(), pa.large_utf8(), pa.binary(), pa.large_binary()):
        vals = [b"ab", b"cde", b"", b"fg"]
        if t in (pa.utf8(), pa.large_utf8()):
            vals = [v.decode() for v in vals]
        arr = pa.array(vals, type=t)
        lens, data = bytearrays.flat_from_arrow(arr)
        assert lens.tolist() == [2, 3, 0, 2] and data == b"abcdefg"
        lens, data = bytearrays.flat_from_arrow(arr.slice(1, 2))
        assert lens.tolist() == [3, 0] and data == b"cde"
