"""Write REAL parquet files with the engine's own codecs — the inverse of
``engine/parquet_compat.py``'s read path. Together they close the
interop loop the reference lives in (``src/file/writer.rs`` emits files
Impala/Spark can read): chunk payloads produced by
``engine/codecs/{plain,rle,delta_for,bytearrays,dictionary-grammar}`` are
wrapped in thrift-compact page headers + a FileMetaData footer that
pyarrow, DuckDB and Spark's built-in reader all consume.

Input is an Arrow table at any nesting depth — struct, list and map in
any combination over bool / int32 / int64 / float32 / float64 / binary /
string / date32 / timestamp[ms|us] leaves — or the engine's scalar-leaf
tuple spec, which one adapter turns into Arrow. One Dremel shredder
(:func:`shred`, the exact inverse of ``parquet_compat.assemble_repeated``
and the rule of the reference's ``src/column/writer.rs:304-345``) turns
every column into leaf streams of def/rep levels plus dense values, and
one schema walk emits the matching groups (struct -> group, list ->
3-level LIST, map -> MAP / key_value). Every leaf then takes the same
page loop: multiple row groups (``row_group_size``) with per-group
min/max/null_count statistics + ``column_orders`` so readers actually
prune; data pages v1 AND v2 (``data_page_version``); encodings PLAIN,
PLAIN_DICTIONARY (v2: RLE_DICTIONARY) with a mid-chunk dictionary
fallback, DELTA_BINARY_PACKED, DELTA_LENGTH_BYTE_ARRAY,
DELTA_BYTE_ARRAY, RLE (boolean), BYTE_STREAM_SPLIT, plus ``'AUTO'``
through the engine's chunk selector; optional SNAPPY/GZIP/ZSTD/BROTLI/
LZ4_RAW page compression; a PageIndex on every chunk. The engine's
production container remains its own chunk format (frames + lineage +
snapshots); this module is the interchange exit ramp — "a user of the
reference could switch" includes handing files back to plain parquet
readers.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from .codecs import delta_for, plain, rle

MAGIC = b"PAR1"

_CT_TRUE = 1
_CT_FALSE = 2
_CT_BYTE = 3
_CT_I16 = 4
_CT_I32 = 5
_CT_I64 = 6
_CT_DOUBLE = 7
_CT_BINARY = 8
_CT_LIST = 9
_CT_STRUCT = 12

_PHYS_IDS = {
    "bool": 0,
    "int32": 1,
    "int64": 2,
    "float32": 4,
    "float64": 5,
    "byte_array": 6,
}
_FIXED_DTYPES = {
    "int32": np.int32,
    "int64": np.int64,
    "float32": np.float32,
    "float64": np.float64,
}
_ENC_IDS = {
    "PLAIN": 0,
    "PLAIN_DICTIONARY": 2,
    "RLE": 3,
    "DELTA_BINARY_PACKED": 5,
    "DELTA_LENGTH_BYTE_ARRAY": 6,
    "DELTA_BYTE_ARRAY": 7,
    "RLE_DICTIONARY": 8,
    "BYTE_STREAM_SPLIT": 9,
}
# 'lz4' means LZ4_RAW (codec id 7): parquet id 5 is the DEPRECATED
# hadoop-framed variant, and pyarrow's Codec('lz4') is the LZ4 *frame*
# format — labeling frame bytes as id 5 would produce unreadable files
# (r5 review #2). Modern readers (arrow, DuckDB, Spark) all take LZ4_RAW.
_CODEC_IDS = {None: 0, "snappy": 1, "gzip": 2, "brotli": 4, "lz4": 7, "zstd": 6}
# tuple-spec aliases -> Arrow leaf types
_SPEC_TYPES = {
    "bool": pa.bool_(),
    "int32": pa.int32(),
    "int64": pa.int64(),
    "float32": pa.float32(),
    "float64": pa.float64(),
    "byte_array": pa.large_binary(),
    "utf8": pa.large_string(),
    "date": pa.date32(),
    "timestamp_ms": pa.timestamp("ms"),
    "timestamp_us": pa.timestamp("us"),
}


def _leaf_type(t: pa.DataType, where: str) -> tuple[str, int | None]:
    """Arrow leaf type -> (physical type, ConvertedType id). UTF8=0,
    DATE=6 (int32 days since epoch), TIMESTAMP_MILLIS=9,
    TIMESTAMP_MICROS=10 — the annotations that make readers surface
    str/date/timestamp columns."""
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "byte_array", 0
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "byte_array", None
    if pa.types.is_date32(t):
        return "int32", 6
    if pa.types.is_timestamp(t) and t.unit in ("ms", "us"):
        return "int64", 9 if t.unit == "ms" else 10
    if pa.types.is_boolean(t):
        return "bool", None
    for phys in _FIXED_DTYPES:
        if t == _SPEC_TYPES[phys]:
            return phys, None
    raise ValueError(f"{where}: cannot write Arrow type {t}")


class _Writer:
    """Thrift compact protocol writer (the mirror of parquet_compat's
    _Reader): structs are emitted from (field_id, type, value) triples in
    ascending id order so the delta encoding stays in range."""

    def __init__(self):
        self.parts: list[bytes] = []

    def _varint(self, v: int) -> None:
        out = bytearray()
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
        self.parts.append(bytes(out))

    def _zigzag(self, v: int) -> None:
        self._varint((v << 1) ^ (v >> 63) if v < 0 else v << 1)

    def _value(self, ctype: int, v) -> None:
        if ctype in (_CT_I16, _CT_I32, _CT_I64):
            self._zigzag(int(v))
        elif ctype == _CT_BYTE:
            self.parts.append(bytes([int(v) & 0xFF]))
        elif ctype == _CT_DOUBLE:
            self.parts.append(struct.pack("<d", float(v)))
        elif ctype == _CT_BINARY:
            b = v.encode() if isinstance(v, str) else bytes(v)
            self._varint(len(b))
            self.parts.append(b)
        elif ctype == _CT_LIST:
            etype, items = v
            n = len(items)
            if n < 15:
                self.parts.append(bytes([(n << 4) | etype]))
            else:
                self.parts.append(bytes([0xF0 | etype]))
                self._varint(n)
            if etype in (_CT_TRUE, _CT_FALSE):
                # bool LIST ELEMENTS take a full byte (1=true, 2=false),
                # unlike struct fields where the type nibble carries the
                # value — needed by ColumnIndex.null_pages
                self.parts.append(
                    bytes(1 if it else 2 for it in items)
                )
            else:
                for it in items:
                    self._value(etype, it)
        elif ctype == _CT_STRUCT:
            self.struct(v)
        elif ctype in (_CT_TRUE, _CT_FALSE):
            pass  # value carried by the field type itself
        else:
            raise ValueError(f"unsupported thrift write type {ctype}")

    def struct(self, fields: list) -> None:
        """fields: [(field_id, ctype, value)] — bools pass ctype _CT_TRUE/
        _CT_FALSE directly."""
        last = 0
        for fid, ctype, v in fields:
            if isinstance(v, bool) and ctype in (_CT_TRUE, _CT_FALSE):
                ctype = _CT_TRUE if v else _CT_FALSE
            delta = fid - last
            if 0 < delta <= 15:
                self.parts.append(bytes([(delta << 4) | ctype]))
            else:
                self.parts.append(bytes([ctype]))
                self._zigzag(fid)
            last = fid
            self._value(ctype, v)
        self.parts.append(b"\x00")

    def bytes(self) -> bytes:
        return b"".join(self.parts)


def _tstruct(fields: list) -> bytes:
    w = _Writer()
    w.struct(fields)
    return w.bytes()


def _compress(buf: bytes, codec: str | None) -> bytes:
    if codec is None:
        return buf
    if codec == "gzip":
        co = zlib.compressobj(6, zlib.DEFLATED, 31)
        return co.compress(buf) + co.flush()
    return pa.Codec("lz4_raw" if codec == "lz4" else codec).compress(
        buf
    ).to_pybytes()


def _plain_values(phys: str, values) -> bytes:
    if phys == "byte_array":
        lens, data = values
        return plain.encode_byte_arrays(lens, data)
    return plain.encode(values, phys)


def _encode_values(phys: str, enc: str, values) -> bytes:
    """Dense (non-null) values -> parquet value-section bytes. byte_array
    values arrive as (lengths, concat-data)."""
    if enc == "PLAIN":
        return _plain_values(phys, values)
    if enc == "DELTA_BINARY_PACKED":
        return delta_for.encode(values, phys)
    if enc == "DELTA_LENGTH_BYTE_ARRAY":
        lens, data = values
        # real parquet embeds the self-delimiting delta stream directly
        # (no 4-byte frame like the engine's own chunk format)
        return delta_for.encode(
            np.ascontiguousarray(lens, np.int32), "int32"
        ) + (data if isinstance(data, bytes) else bytes(data))
    if enc == "DELTA_BYTE_ARRAY":
        from .codecs import bytearrays

        lens, data = values
        lens = np.ascontiguousarray(lens, np.int64)
        if lens.size == 0:
            # all-null group: two empty self-delimiting delta streams
            # (prefix lengths + suffix lengths), no suffix bytes
            # (hypothesis-found: the offset scatter below assumes >=1 value)
            empty = delta_for.encode(np.empty(0, np.int32), "int32")
            return empty + empty
        arr = np.frombuffer(data, np.uint8)
        prefix = bytearrays._common_prefix_lengths(lens, arr)
        suffix_lens = lens - prefix
        off = np.concatenate(([0], np.cumsum(lens)))
        starts = off[:-1] + prefix
        total = int(suffix_lens.sum())
        rep = np.repeat(starts, suffix_lens)
        within = np.arange(total, dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(suffix_lens)[:-1])), suffix_lens
        )
        suffix = arr[rep + within].tobytes() if total else b""
        return (
            delta_for.encode(prefix.astype(np.int32), "int32")
            + delta_for.encode(suffix_lens.astype(np.int32), "int32")
            + suffix
        )
    if enc == "RLE":
        if phys != "bool":
            raise ValueError("RLE value encoding is boolean-only")
        return rle.encode_len_prefixed(
            np.ascontiguousarray(values, np.uint64), 1
        )
    if enc == "BYTE_STREAM_SPLIT":
        # NOTE: pyarrow and DuckDB read BSS pages; Spark's vectorized
        # reader (as of 4.1) raises "Unsupported encoding" — pick PLAIN
        # for files Spark itself must read back
        dt = {"float32": "<f4", "float64": "<f8", "int32": "<i4", "int64": "<i8"}
        if phys not in dt:
            raise ValueError(f"BYTE_STREAM_SPLIT unsupported on {phys}")
        v = np.ascontiguousarray(values, dt[phys])
        k = v.dtype.itemsize
        # transpose value-major bytes into k byte streams: after this,
        # same-significance bytes sit together, which is what makes float
        # pages compress (the codec pairs with snappy/zstd)
        return v.view(np.uint8).reshape(len(v), k).T.copy().tobytes()
    raise ValueError(f"unsupported write encoding {enc}")


_STATS_TRUNC = 64  # parquet-mr's default byte-array stats truncation


def _truncate_max(hi: bytes) -> bytes | None:
    """Bound a byte-array max to a _STATS_TRUNC-byte prefix that still
    upper-bounds the value: truncate, then increment the last byte that
    can carry (parquet-mr's BinaryTruncator); an all-0xFF prefix has no
    finite upper bound at this length -> None (stat omitted) so footers
    never embed multi-KB document bodies (r5 advice #2)."""
    if len(hi) <= _STATS_TRUNC:
        return hi
    pre = bytearray(hi[:_STATS_TRUNC])
    for i in range(len(pre) - 1, -1, -1):
        if pre[i] != 0xFF:
            pre[i] += 1
            return bytes(pre[: i + 1])
    return None


def _utf8_trunc_min(lo: bytes) -> bytes:
    """UTF8 columns must truncate at CODEPOINT boundaries (r6 review #1 —
    a byte-sliced prefix can split a multi-byte char, and DuckDB then
    rejects the whole file's statistics as invalid string encoding;
    parquet-mr's BinaryTruncator is likewise UTF8-aware). A codepoint
    prefix of a valid string is valid and sorts <= the original."""
    if len(lo) <= _STATS_TRUNC:
        return lo
    cut = lo[:_STATS_TRUNC]
    k = len(cut)
    # back off any trailing continuation bytes plus a split lead byte
    while k > 0 and (cut[k - 1] & 0xC0) == 0x80:
        k -= 1
    if k > 0 and (cut[k - 1] & 0xC0) == 0xC0:
        k -= 1
    return cut[:k]


def _utf8_trunc_max(hi: bytes) -> bytes | None:
    """Upper-bound a UTF8 max within _STATS_TRUNC bytes: truncate at a
    codepoint boundary, then increment the last codepoint (skipping the
    surrogate block) — UTF-8 byte order tracks codepoint order, so the
    result strictly upper-bounds every string sharing the prefix. None
    when no prefix can be incremented (degenerate all-U+10FFFF)."""
    if len(hi) <= _STATS_TRUNC:
        return hi
    chars = list(_utf8_trunc_min(hi).decode())
    while chars:
        cp = ord(chars[-1])
        nxt = 0xE000 if cp == 0xD7FF else cp + 1
        if nxt <= 0x10FFFF and not 0xD800 <= nxt <= 0xDFFF:
            chars[-1] = chr(nxt)
            return "".join(chars).encode()
        chars.pop()
    return None


def _column_stats(phys: str, values, null_count: int = 0,
                  utf8: bool = False):
    """Statistics (min_value/max_value/null_count) of one page or chunk's
    dense ``values`` — the metadata that lets ANY parquet reader prune
    row groups on engine-written files, the interchange analog of the
    engine's own typed chunk statistics (jobs/encode.py). min/max
    serialize as single PLAIN values (spec fields 5/6); NaN-containing
    float groups skip min/max the way parquet-mr does (NaN ordering is
    undefined in the spec)."""
    if _n_values(values) == 0:
        return {"null_count": null_count, "min": None, "max": None}
    if phys == "byte_array":
        import pyarrow.compute as pac

        lens, data = values
        offs = np.concatenate(([0], np.cumsum(np.asarray(lens, np.int64))))
        # zero-copy BinaryArray over (offsets, data) — py_buffer wraps
        # bytes AND ndarrays without copying — then one vectorized C++
        # min_max pass; per-page stats sit in the writer's hot loop and a
        # per-value Python scan dominated wide string chunks
        arr = pa.Array.from_buffers(
            pa.large_binary(),
            len(lens),
            [None, pa.py_buffer(offs), pa.py_buffer(data)],
        )
        mm = pac.min_max(arr)
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if utf8:
            # the two bounds fail independently: _utf8_trunc_min never
            # decodes (pure byte backoff) but a declared-UTF8 column can
            # still carry undecodable bytes that make the codepoint
            # prefix unusable; _utf8_trunc_max decodes and can raise.
            # Keep whichever bound is computable (r6 ADVICE #1).
            mn = _utf8_trunc_min(lo)
            try:
                mn.decode()
            except UnicodeDecodeError:
                mn = None
            try:
                mx = _utf8_trunc_max(hi)
                if mx is not None:
                    # the short path returns hi verbatim without decoding
                    # (r7 review #3): an undecodable SHORT max must drop
                    # too, or DuckDB rejects the file's string statistics
                    mx.decode()
            except UnicodeDecodeError:
                mx = None
            return {"null_count": null_count, "min": mn, "max": mx}
        return {
            "null_count": null_count,
            "min": lo[:_STATS_TRUNC],
            "max": _truncate_max(hi),
        }
    v = np.asarray(values)
    if phys in ("float32", "float64") and np.isnan(v).any():
        return {"null_count": null_count, "min": None, "max": None}
    if phys == "bool":
        mn, mx = bool(v.min()), bool(v.max())
        return {
            "null_count": null_count,
            "min": b"\x01" if mn else b"\x00",
            "max": b"\x01" if mx else b"\x00",
        }
    return {
        "null_count": null_count,
        "min": plain.encode(v.min(keepdims=True), phys),
        "max": plain.encode(v.max(keepdims=True), phys),
    }


def _stats_struct(stats: dict) -> list:
    """Thrift Statistics struct fields: 3 null_count, 5 max_value, 6
    min_value (the order-defined v2 fields readers trust). Each bound is
    written independently: a chunk whose max is un-boundable after
    truncation (all-0xFF prefix / degenerate all-U+10FFFF) still carries
    its perfectly valid truncated min, preserving min-based row-group
    pruning (r6 ADVICE #1)."""
    fields = [(3, _CT_I64, stats["null_count"])]
    if stats["max"] is not None:
        fields.append((5, _CT_BINARY, stats["max"]))
    if stats["min"] is not None:
        fields.append((6, _CT_BINARY, stats["min"]))
    return fields


def _auto_encoding(phys: str, values) -> str:
    """Resolve encoding='AUTO' through the engine's codec auto-selector
    (engine/selector.py — the same argmin-over-size-estimates that drives
    the native chunk format), restricted to encodings parquet can express:
    the engine's bitpack/rle int codecs have no parquet value-encoding
    analog, and FSST maps to DELTA_LENGTH_BYTE_ARRAY (plain length-split)
    since parquet has no FSST."""
    from . import selector

    if phys == "bool":
        choice = selector.select_bool_codec(np.asarray(values))
        return {"rle_bool": "RLE", "plain": "PLAIN"}[choice]
    if phys in ("float32", "float64"):
        choice = selector.select_float_codec(np.asarray(values))
        return {"dict": "PLAIN_DICTIONARY", "plain": "PLAIN"}[choice]
    if phys == "byte_array":
        lens, data = values
        # fsst is excluded from the argmin itself: parquet cannot express
        # it, and remapping an fsst WIN afterwards would pick the wrong
        # encoding for prefix-sorted strings (r5 review pass 2 #3)
        choice = selector.select_ba_codec(
            np.asarray(lens),
            data,
            candidates=("dict_ba", "delta_ba", "delta_length_ba"),
        )
        return {
            "dict_ba": "PLAIN_DICTIONARY",
            "delta_ba": "DELTA_BYTE_ARRAY",
            "delta_length_ba": "DELTA_LENGTH_BYTE_ARRAY",
        }[choice]
    choice, _, _ = selector.select_codec(
        np.asarray(values), candidates=("plain", "dict", "delta")
    )
    return {
        "plain": "PLAIN",
        "dict": "PLAIN_DICTIONARY",
        "delta": "DELTA_BINARY_PACKED",
    }[choice]


def _dict_build(phys: str, values):
    """PLAIN_DICTIONARY: (dict page bytes, int64 index array, n_dict,
    per-unique serialized sizes). Uniques keep first-appearance order —
    same contract as the engine's DictEncoder (pd.factorize / arrow
    dictionary_encode order), which also means unique k's serialized
    bytes are dict_page[cum_sizes[k-1]:cum_sizes[k]] — the property the
    mid-chunk dict fallback uses to truncate the dictionary to exactly
    the uniques the dict-encoded page prefix saw. The caller slices the
    index array per data page (one shared dictionary per column chunk,
    parquet's layout)."""
    if phys == "byte_array":
        # arrow dictionary_encode over zero-copy buffers — first-appearance
        # order, no per-value Python (r5 review #6; same idiom the engine's
        # own DICT_BA encode uses in jobs/encode.py)
        lens, data = values
        lens64 = np.asarray(lens, np.int64)
        offs32 = np.concatenate(([0], np.cumsum(lens64))).astype(np.int32)
        arr = pa.Array.from_buffers(
            pa.binary(),
            len(lens64),
            [None, pa.py_buffer(offs32.tobytes()), pa.py_buffer(data)],
        )
        denc = arr.dictionary_encode()
        idx = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        from .codecs import bytearrays

        u_lens, u_data = bytearrays.flat_from_arrow(denc.dictionary)
        dict_plain = plain.encode_byte_arrays(
            u_lens.astype(np.uint32), u_data
        )
        n_dict = len(u_lens)
        u_sizes = 4 + np.asarray(u_lens, np.int64)  # u32 length prefix
    else:
        import pandas as pd

        # use_na_sentinel=False keeps NaN as a REAL dictionary value;
        # the default emits code -1, which uint-wraps into an arbitrary
        # valid index and silently corrupts the column (r5 review #1)
        codes, uniques = pd.factorize(
            np.asarray(values), use_na_sentinel=False
        )
        idx = codes.astype(np.int64)
        dict_plain = plain.encode(np.asarray(uniques), phys)
        n_dict = len(uniques)
        u_sizes = np.full(n_dict, len(dict_plain) // max(n_dict, 1), np.int64)
    if n_dict == 0:
        raise ValueError("dictionary encoding of an empty column")
    return dict_plain, idx, n_dict, u_sizes


def _page_header(ptype: int, raw_len: int, comp_len: int, inner) -> bytes:
    fields = [(1, _CT_I32, ptype), (2, _CT_I32, raw_len), (3, _CT_I32, comp_len)]
    if ptype == 0:
        fields.append((5, _CT_STRUCT, inner))
    elif ptype == 3:
        fields.append((8, _CT_STRUCT, inner))
    else:
        fields.append((7, _CT_STRUCT, inner))
    return _tstruct(fields)



@dataclass
class Leaf:
    """One shredded primitive leaf. ``values`` holds only the defined
    (def == max_def) values, in level order: numpy, or (lengths, data)
    for byte arrays with ``byte_offsets`` their prefix sums. ``defs`` /
    ``reps`` are the level streams, None when ``max_def`` / ``max_rep`` is
    0. ``row_starts[i]`` is the level where row i starts (None: level i is
    row i) and ``dense_prefix[j]`` counts the values before level j (None:
    every level holds a value); both carry one extra end entry."""

    path: list
    phys: str
    conv: int | None
    values: object
    defs: np.ndarray | None
    reps: np.ndarray | None
    max_def: int
    max_rep: int
    row_starts: np.ndarray | None
    dense_prefix: np.ndarray | None
    byte_offsets: np.ndarray | None

    def level_at(self, row: int) -> int:
        return row if self.row_starts is None else int(self.row_starts[row])

    def dense_at(self, level: int) -> int:
        return (
            level if self.dense_prefix is None
            else int(self.dense_prefix[level])
        )

    def dense(self, a: int, b: int):
        """The values of levels [a, b)."""
        a, b = self.dense_at(a), self.dense_at(b)
        if self.byte_offsets is None:
            return self.values[a:b]
        lens, data = self.values
        return lens[a:b], data[self.byte_offsets[a] : self.byte_offsets[b]]


def _n_values(values) -> int:
    return len(values[0]) if isinstance(values, tuple) else len(values)


def _bitmap_bits(buf, offset: int, n: int) -> np.ndarray:
    """An Arrow bit buffer (validity or boolean values) -> n bools."""
    if n == 0:
        return np.empty(0, bool)
    bits = np.unpackbits(
        np.frombuffer(buf, np.uint8), count=offset + n, bitorder="little"
    )
    return bits[offset:].view(bool)


def _offsets(arr: pa.Array, wide: bool) -> np.ndarray:
    """The n + 1 offsets of a list or byte array, honouring its offset."""
    if len(arr) == 0:
        return np.zeros(1, np.int64)
    offs = np.frombuffer(arr.buffers()[1], np.int64 if wide else np.int32)
    return offs[arr.offset : arr.offset + len(arr) + 1].astype(np.int64)


def _leaf_values(arr: pa.Array, phys: str, sel):
    """The values at ``sel`` (None: all; else a bool mask or a sorted
    position array) of a primitive Arrow array, off its buffers."""
    n, off = len(arr), arr.offset
    if phys == "byte_array":
        t = arr.type
        offs = _offsets(arr, pa.types.is_large_string(t)
                        or pa.types.is_large_binary(t))
        buf = arr.buffers()[2]
        data = np.frombuffer(buf or b"", np.uint8)[offs[0] : offs[-1]]
        lens = np.diff(offs)
        if sel is None:
            return lens, data
        keep = sel
        if sel.dtype != bool:
            keep = np.zeros(n, bool)
            keep[sel] = True
        if lens[~keep].any():  # skipped slots hold bytes: gather
            data = data[np.repeat(keep, lens)]
        return lens[sel], data
    if n == 0:
        vals = np.empty(0, bool if phys == "bool" else _FIXED_DTYPES[phys])
    elif phys == "bool":
        vals = _bitmap_bits(arr.buffers()[1], off, n)
    else:
        vals = np.frombuffer(
            arr.buffers()[1], _FIXED_DTYPES[phys], count=off + n
        )[off:]
    return vals if sel is None else vals[sel]


def _live(pos, defs, d: int):
    """Mask of the slots every ancestor so far defines (None: all)."""
    if pos is not None:
        return pos >= 0
    return None if defs is None else defs == d


def shred(arr: pa.Array, field: pa.Field) -> list:
    """Dremel shredding of one Arrow column at any depth (Melnik et al.,
    VLDB'10; reference ``src/column/writer.rs:304-345``), the exact
    inverse of ``parquet_compat.assemble_repeated`` -> one :class:`Leaf`
    per primitive leaf, in schema order, with the paths
    :func:`_schema_elements` names.

    Levels are built top-down over slots, one per level entry. Before
    the first list a slot is a position of the column; after it, ``pos``
    maps each slot to a position of the current child array (-1: dead).
    A slot dies where an optional node is null or a list is empty, and
    its def level stops there. Each optional node adds 1 to the def level
    of the live slots it defines; each repeated node (list, map) replaces
    a live slot by one slot per entry (def + 1, rep = its depth after the
    first) and keeps an empty or dead slot as ONE slot, which is where
    null-vs-empty lives."""
    leaves: list = []
    _shred(arr, field, [field.name], None, None, None, 0, 0, leaves)
    return leaves


def _shred(arr, field, path, pos, defs, reps, d, r, leaves) -> None:
    t = arr.type
    if field.nullable:
        ok = _live(pos, defs, d)
        if arr.null_count:
            valid = _bitmap_bits(arr.buffers()[0], arr.offset, len(arr))
            if pos is None:
                ok = valid if ok is None else ok & valid
            else:
                got = np.zeros(len(pos), bool)
                got[ok] = valid[pos[ok]]
                ok = got
                pos = np.where(ok, pos, -1)
        if ok is not None:
            base = np.full(len(ok), d, np.uint8) if defs is None else defs
            defs = base + ok
        d += 1
    elif arr.null_count:
        # a required node has no def level for a NULL: one on a slot every
        # ancestor defines would be written as its buffer's stale value. A
        # NULL under a NULL parent is dead and stays legal (Spark writes it)
        valid = _bitmap_bits(arr.buffers()[0], arr.offset, len(arr))
        live = _live(pos, defs, d)
        if pos is not None:
            valid = valid[pos[live]]
        elif live is not None:
            valid = valid[live]
        if not valid.all():
            raise ValueError(
                f"column {'.'.join(path)}: NULL in a non-nullable field"
            )
    if pa.types.is_struct(t):
        for i, f in enumerate(t):
            _shred(arr.field(i), f, path + [f.name], pos, defs, reps, d, r,
                   leaves)
        return
    if pa.types.is_map(t) or pa.types.is_list(t) or pa.types.is_large_list(t):
        offs = _offsets(arr, pa.types.is_large_list(t))
        n = len(arr) if pos is None else len(pos)
        live = _live(pos, defs, d)
        where = np.arange(n) if live is None else np.flatnonzero(live)
        at = where if pos is None else pos[where]
        start = np.zeros(n, np.int64)
        count = np.zeros(n, np.int64)
        start[where] = offs[at]
        count[where] = offs[at + 1] - offs[at]
        has = count > 0
        slots = np.where(has, count, 1)
        first = np.cumsum(slots) - slots
        within = np.arange(int(slots.sum())) - np.repeat(first, slots)
        entry = np.repeat(has, slots)
        pos = np.where(entry, np.repeat(start, slots) + within, -1)
        base = np.full(n, d, np.uint8) if defs is None else defs
        defs = np.repeat(base, slots) + entry
        reps = np.repeat(
            np.zeros(n, np.uint8) if reps is None else reps, slots
        )
        reps[within > 0] = r + 1
        if pa.types.is_map(t):
            child = pa.field("key_value", arr.values.type, nullable=False)
            sub = ["key_value"]
        else:
            child = t.value_field.with_name("element")
            sub = ["list", "element"]
        _shred(arr.values, child, path + sub, pos, defs, reps, d + 1, r + 1,
               leaves)
        return
    where = ".".join(path)
    phys, conv = _leaf_type(t, where)
    live = _live(pos, defs, d)
    n_levels = len(arr) if pos is None else len(pos)
    values = _leaf_values(
        arr, phys, live if pos is None else pos[live]
    )
    n_dense = _n_values(values)
    if d and defs is None:
        defs = np.full(n_levels, d, np.uint8)
    leaves.append(Leaf(
        path=path,
        phys=phys,
        conv=conv,
        values=values,
        defs=defs,
        reps=reps,
        max_def=d,
        max_rep=r,
        row_starts=(
            None if reps is None
            else np.append(np.flatnonzero(reps == 0), n_levels)
        ),
        dense_prefix=(
            None if n_dense == n_levels
            else np.concatenate(([0], np.cumsum(live, dtype=np.int64)))
        ),
        byte_offsets=(
            np.concatenate(([0], np.cumsum(values[0], dtype=np.int64)))
            if phys == "byte_array" else None
        ),
    ))


def _schema_elements(schema: pa.Schema) -> list:
    """One walk over the Arrow schema -> every SchemaElement of the
    footer, root first, depth-first: struct -> group; list -> LIST group
    / repeated ``list`` / ``element``; map -> MAP group / repeated
    ``key_value`` (MAP_KEY_VALUE) / required ``key`` + ``value``; a leaf
    carries its physical and converted type. REQUIRED or OPTIONAL comes
    from ``field.nullable``. Names follow the paths :func:`shred` gives
    the leaves."""
    elems = [[(4, _CT_BINARY, "schema"), (5, _CT_I32, len(schema))]]

    def walk(name: str, field: pa.Field) -> None:
        t = field.type
        head = [(3, _CT_I32, int(field.nullable)), (4, _CT_BINARY, name)]
        if pa.types.is_struct(t):
            elems.append(head + [(5, _CT_I32, t.num_fields)])
            for f in t:
                walk(f.name, f)
        elif pa.types.is_map(t):
            elems.append(head + [(5, _CT_I32, 1), (6, _CT_I32, 1)])  # MAP
            elems.append([
                (3, _CT_I32, 2), (4, _CT_BINARY, "key_value"),
                (5, _CT_I32, 2), (6, _CT_I32, 2),  # MAP_KEY_VALUE
            ])
            walk(t.key_field.name, t.key_field)
            walk(t.item_field.name, t.item_field)
        elif pa.types.is_list(t) or pa.types.is_large_list(t):
            elems.append(head + [(5, _CT_I32, 1), (6, _CT_I32, 3)])  # LIST
            elems.append(
                [(3, _CT_I32, 2), (4, _CT_BINARY, "list"), (5, _CT_I32, 1)]
            )
            walk("element", t.value_field)
        else:
            phys, conv = _leaf_type(t, name)
            elems.append(
                [(1, _CT_I32, _PHYS_IDS[phys])] + head
                + ([] if conv is None else [(6, _CT_I32, conv)])
            )

    for f in schema:
        walk(f.name, f)
    return elems


def _spec_type(where: str, alias: str) -> pa.DataType:
    if alias not in _SPEC_TYPES:
        raise ValueError(
            f"{where}: unsupported type {alias} — tuple-spec columns, "
            "fields and elements are scalar; pass a pyarrow Table for "
            "nested ones"
        )
    return _SPEC_TYPES[alias]


def _spec_count(typ: pa.DataType, values) -> int:
    byte_array = _leaf_type(typ, "")[0] == "byte_array"
    return len(values[0] if byte_array else values)


def _bitmap(mask) -> pa.Buffer | None:
    return (
        None if mask is None
        else pa.py_buffer(np.packbits(mask, bitorder="little"))
    )


def _spec_array(where: str, typ: pa.DataType, values, present, n: int,
                spans_all: bool, nullable: bool) -> pa.Array:
    """One scalar tuple-spec leaf -> an n-slot Arrow array. ``present``
    marks the slots that hold a value (None: all). Byte-array values are
    dense over them, fixed-type values too unless ``spans_all`` (one per
    slot, null slots ignored). A required leaf gets no bitmap: only a
    null parent can hide its slots."""
    want = n if present is None else int(np.count_nonzero(present))
    phys = _leaf_type(typ, where)[0]
    if phys == "byte_array":
        lens, data = values
        lens = np.asarray(lens, np.int64)
        vals = lens
    else:
        vals = np.asarray(values)
        if spans_all:
            if len(vals) != n:
                raise ValueError(f"{where}: {len(vals)} values vs {n} rows")
            want = n
    if len(vals) != want:
        raise ValueError(
            f"{where}: {len(vals)} dense values vs {want} present "
            "(values must be dense over present entries)"
        )
    if present is not None and len(vals) != n:
        full = np.zeros(n, vals.dtype)
        full[present] = vals
        vals = full
    bufs = [_bitmap(present) if nullable else None]
    if phys == "byte_array":
        offs = np.concatenate(([0], np.cumsum(vals)))
        bufs += [pa.py_buffer(offs), pa.py_buffer(data)]
    elif phys == "bool":
        bufs.append(_bitmap(vals.astype(bool)))
    else:
        bufs.append(pa.py_buffer(np.ascontiguousarray(vals, _FIXED_DTYPES[phys])))
    return pa.Array.from_buffers(typ, n, bufs)


def _spec_struct(where: str, key: str, fields, valid, n, spans_all: bool,
                 encodings: dict) -> pa.Array:
    """A tuple-spec struct -> StructArray; ``n`` None takes the row count
    from the first field. Field encodings land in ``encodings`` under
    ``key.field``."""
    if not isinstance(fields, (list, tuple)) or not fields:
        raise ValueError(f"{where}: struct values must be a non-empty field list")
    children, cfields = [], []
    for fname, alias, fenc, fvalues, fvalid in fields:
        fwhere = f"{where}.{fname}"
        typ = _spec_type(fwhere, alias)
        if fvalid is not None:
            fvalid = np.asarray(fvalid, bool)
        if n is None:
            n = len(fvalid) if fvalid is not None else _spec_count(typ, fvalues)
        elif fvalid is not None and len(fvalid) != n:
            raise ValueError(f"{fwhere}: {len(fvalid)} rows vs {n} in struct")
        present = (
            fvalid if valid is None
            else valid if fvalid is None
            else valid & fvalid
        )
        children.append(_spec_array(fwhere, typ, fvalues, present, n,
                                    spans_all, fvalid is not None))
        cfields.append(pa.field(fname, typ, fvalid is not None))
        encodings[f"{key}.{fname}"] = fenc
    return pa.Array.from_buffers(
        pa.struct(cfields), n, [_bitmap(valid)], children=children
    )


def _spec_repeated(name: str, alias: str, values, valid,
                   encodings: dict) -> pa.Array:
    """list<elem>, list<struct> and map<k,v> tuple specs -> a List or Map
    array; a null row holds no entries."""
    offsets = np.ascontiguousarray(values[0], np.int64)
    if len(offsets) == 0 or (np.diff(offsets) < 0).any():
        raise ValueError(f"{name}: offsets must be non-decreasing")
    n, n_entries = len(offsets) - 1, int(offsets[-1])
    if n_entries > np.iinfo(np.int32).max:
        raise ValueError(f"{name}: {n_entries} entries overflow list offsets")
    if valid is not None:
        if len(valid) != n:
            raise ValueError(f"{name}: validity length != rows")
        if (np.diff(offsets)[~valid] != 0).any():
            raise ValueError(f"{name}: null rows must be empty")
    if alias.startswith("map<"):
        _, keys, vals, vvalid = values
        kalias, valias = (a.strip() for a in alias[4:-1].split(",", 1))
        entries = _spec_struct(
            name, f"{name}.key_value",
            [("key", kalias, "AUTO", keys, None),
             ("value", valias, "AUTO", vals, vvalid)],
            None, n_entries, False, encodings,
        )
        typ = pa.map_(entries.type.field(0), entries.type.field(1))
    else:
        _, elems, elem_valid = values
        if elem_valid is not None:
            elem_valid = np.asarray(elem_valid, bool)
            if len(elem_valid) != n_entries:
                raise ValueError(f"{name}: elem_validity length != entries")
        if alias == "list<struct>":
            entries = _spec_struct(
                name, f"{name}.list.element", elems, elem_valid, n_entries,
                False, encodings,
            )
            elem_nullable = elem_valid is not None
        else:
            entries = _spec_array(
                name, _spec_type(name, alias[5:-1]), elems, elem_valid,
                n_entries, False, True,
            )
            elem_nullable = True
        typ = pa.list_(pa.field("element", entries.type, elem_nullable))
    return pa.Array.from_buffers(
        typ, n, [_bitmap(valid), pa.py_buffer(offsets.astype(np.int32))],
        children=[entries],
    )


def _spec_to_arrow(columns: list) -> tuple[pa.Table, dict]:
    """The tuple spec -> (Arrow table, {column or leaf path: encoding}).
    A scalar column or struct field with validity None is REQUIRED; a
    list or map column and a list element are always OPTIONAL."""
    arrays, fields, encodings = [], [], {}
    for name, alias, enc, values, validity in columns:
        valid = None if validity is None else np.asarray(validity, bool)
        nullable = valid is not None
        if alias == "struct":
            arr = _spec_struct(
                name, name, values, valid, None if valid is None else len(valid),
                True, encodings,
            )
        elif alias.startswith(("list<", "map<")) and alias.endswith(">"):
            arr = _spec_repeated(name, alias, values, valid, encodings)
            nullable = True
        else:
            typ = _spec_type(name, alias)
            n = len(valid) if nullable else _spec_count(typ, values)
            arr = _spec_array(name, typ, values, valid, n, True, nullable)
        # a group's leaves carry their own, longer keys
        encodings[name] = enc
        if arrays and len(arr) != len(arrays[0]):
            raise ValueError(
                f"{name}: {len(arr)} rows vs {len(arrays[0])} in prior columns"
            )
        arrays.append(arr)
        fields.append(pa.field(name, arr.type, nullable))
    return pa.Table.from_arrays(arrays, schema=pa.schema(fields)), encodings


def write_table(path: str, table, codec: str | None = None,
                created_by: str = "spark-graft encoder",
                row_group_size: int | None = None,
                data_page_version: int = 1,
                page_size_rows: int | None = None,
                dict_page_size_limit: int = 1024 * 1024,
                sorting_columns: list | None = None,
                encodings: dict | None = None) -> dict:
    """Write ``table`` as a real parquet file.

    ``table`` is a ``pyarrow.Table`` at any depth: struct, list,
    large_list and map nest freely over bool / int32 / int64 / float32 /
    float64 / binary / string / date32 / timestamp[ms|us] leaves. Each
    field's ``nullable`` makes its parquet node OPTIONAL or REQUIRED;
    lists are the 3-level LIST convention, maps MAP / key_value — the
    shapes Spark, pyarrow and DuckDB surface as ``array``, ``struct`` and
    ``map``. ``encodings`` maps a column name or a dotted leaf path
    (``'tokens.list.element'``, ``'meta.width'``) to a value encoding
    for the leaves under it; the longest match wins, the default is
    ``'AUTO'``, the engine's codec selector.

    ``table`` may also be the tuple spec, a list of ``(name, alias,
    encoding, values, validity)``; its encoding fields seed
    ``encodings``. Aliases: 'bool' / 'int32' / 'int64' / 'float32' /
    'float64' / 'byte_array' / 'utf8' / 'date' (int32 days) /
    'timestamp_us' / 'timestamp_ms' (int64 epoch micros/millis). Values
    are a numpy array spanning every row (null slots may hold anything)
    or (lengths, data) for byte arrays, dense over the non-null rows;
    validity is a bool array, or None for a REQUIRED column.

    * ``'list<alias>'``: values = ``(offsets, elem_values,
      elem_validity)``, offsets int64 of length rows+1 over entries (a
      null row has zero entries), elem_values dense over the non-null
      entries, elem_validity over entries or None.
    * ``'struct'``: values = a list of ``(field_name, alias, encoding,
      values, validity)``; fixed-type field values span all rows,
      byte-array ones are dense over the rows where struct AND field are
      non-null. The column validity makes the struct optional.
    * ``'list<struct>'``: values = ``(offsets, fields, elem_validity)``,
      fields as for a struct but over entries, all values dense over the
      present entries.
    * ``'map<kalias,valias>'``: values = ``(offsets, keys, values,
      value_validity)``; keys required, values dense over non-null ones.

    Lists and maps in the spec are always optional, and so are list
    elements; deeper nesting takes an Arrow table.

    ``row_group_size`` splits rows into multiple row groups (each with
    its own dictionary pages) — at fleet scale bounded groups are what
    keep a reader's memory bounded; default is a single group.
    ``data_page_version=2`` emits DataPageV2 (levels sectioned outside
    the compressed area, lengths in the header — the modern page form
    parquet-mr/arrow default to). ``page_size_rows`` splits each column
    chunk into multiple data pages (one shared dictionary page per
    chunk); every file also carries the PageIndex (ColumnIndex with
    per-page min/max/null_count + OffsetIndex) so external readers can
    page-prune — the reference leaves page stats as a TODO
    (src/column/writer.rs:356,480-481). Returns {'rows': n, 'bytes':
    file size}.
    """
    if not isinstance(table, pa.Table):
        table, spec_encodings = _spec_to_arrow(table)
        encodings = {**spec_encodings, **(encodings or {})}
    encodings = encodings or {}
    if data_page_version not in (1, 2):
        raise ValueError("data_page_version must be 1 or 2")
    # combine_chunks copies even a lone chunk
    columns = [
        col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
        for col in table.columns
    ]
    leaves = [
        leaf
        for arr, field in zip(columns, table.schema)
        for leaf in shred(arr, field)
    ]
    prefixes = {
        ".".join(leaf.path[:k])
        for leaf in leaves
        for k in range(1, len(leaf.path) + 1)
    }
    unknown = sorted(set(encodings) - prefixes)
    if unknown:
        raise ValueError(f"encodings name unknown columns {unknown}")
    if sorting_columns:
        declared = {".".join(leaf.path) for leaf in leaves}
        for nm, _, _ in sorting_columns:
            if nm not in declared:
                raise ValueError(
                    f"sorting_columns names unknown column {nm!r}; "
                    f"columns are {sorted(declared)}"
                )
    leaf_encs = []
    for leaf in leaves:
        keys = (".".join(leaf.path[:k]) for k in range(len(leaf.path), 0, -1))
        leaf_encs.append(
            (leaf, next((encodings[k] for k in keys if k in encodings), "AUTO"))
        )
    num_rows = table.num_rows

    out = bytearray(MAGIC)
    rowgroups = []
    step = row_group_size if row_group_size and row_group_size > 0 else max(num_rows, 1)
    for lo in range(0, max(num_rows, 1), step):
        hi = min(lo + step, num_rows)
        col_meta = _write_group(
            out, leaf_encs, lo, hi, codec, data_page_version, page_size_rows,
            dict_page_size_limit,
        )
        rowgroups.append((col_meta, hi - lo))
        if num_rows == 0:
            break
    return _finish_file(
        path, out, rowgroups, _schema_elements(table.schema), num_rows,
        codec, created_by, sorting_columns,
    )


def _write_group(out: bytearray, leaf_encs: list, lo: int, hi: int,
                 codec: str | None, data_page_version: int,
                 page_rows: int | None, dict_page_size_limit: int) -> list:
    """Rows [lo, hi) of every leaf as one row group's column chunks:
    dictionary page (optional), data pages, and each page's location +
    stats (the ColumnIndex/OffsetIndex inputs)."""
    # page row ranges, shared by every leaf: a page holds whole rows
    step = page_rows if page_rows and page_rows > 0 else max(hi - lo, 1)
    ranges = [
        (plo, min(plo + step, hi)) for plo in range(lo, hi, step)
    ] or [(lo, hi)]
    single = len(ranges) == 1
    col_meta = []
    for leaf, enc in leaf_encs:
        phys, conv = leaf.phys, leaf.conv
        # -- group-level pass: resolve AUTO + build the dictionary over
        # the WHOLE group so every page shares one encoding and one dict
        # page; the single-page default reuses these values outright --
        g_lo, g_hi = leaf.level_at(lo), leaf.level_at(hi)
        g_values = leaf.dense(g_lo, g_hi)
        g_dense = _n_values(g_values)
        if g_dense == 0 and enc in ("AUTO", "PLAIN_DICTIONARY"):
            # an all-null group has nothing to dictionary-encode (and
            # nothing for the selector to sample) — PLAIN of zero values
            # is the canonical empty value section (hypothesis-found)
            enc = "PLAIN"
        elif enc == "AUTO":
            # per-row-group adaptivity, same granularity as the engine's
            # per-chunk selection
            enc = _auto_encoding(phys, g_values)
        def_width = max(leaf.max_def.bit_length(), 1)
        rep_width = max(leaf.max_rep.bit_length(), 1)

        start = len(out)
        encodings = set()
        raw_total = 0  # uncompressed bytes of all pages INCL headers (spec)
        dict_idx = None
        dict_cut = None  # dense position where dict-encoded pages stop
        if enc == "PLAIN_DICTIONARY":
            dict_plain, dict_idx, n_dict, u_sizes = _dict_build(
                phys, g_values
            )
            if len(dict_plain) > dict_page_size_limit:
                # mid-chunk dict_fallback (reference src/column/writer.rs:
                # 392-420; parquet-mr's FallbackValuesWriter): the pages
                # already written under the dictionary STAY dict-encoded
                # and the SAME chunk continues with the fallback encoding.
                # This one-shot writer knows the full (codes, uniques)
                # stream upfront, so the spill point is computed instead
                # of discovered: uniques keep first-appearance order, so
                # the dictionary after d dense values is codes[:d].max()+1
                # entries and its serialized size is the cumulative-size
                # prefix — keep the longest page prefix whose dictionary
                # fits, truncate the dict page to exactly those uniques,
                # and encode the remaining pages PLAIN.
                cut = None
                if not single:
                    g_d0 = leaf.dense_at(g_lo)
                    runmax = np.maximum.accumulate(dict_idx)
                    cum = np.cumsum(u_sizes)
                    for _, phi in ranges[:-1]:  # full dict already failed
                        b = leaf.dense_at(leaf.level_at(phi)) - g_d0
                        if b == 0 or cum[int(runmax[b - 1])] > \
                                dict_page_size_limit:
                            break
                        cut = b
                if cut is None:
                    # dictionary overflows inside the first page: the
                    # whole group falls back before any bytes are emitted
                    enc = "PLAIN"
                    dict_idx = None
                else:
                    dict_cut = cut
                    n_dict = int(runmax[cut - 1]) + 1
                    dict_plain = dict_plain[: int(cum[n_dict - 1])]
        if enc == "PLAIN_DICTIONARY":
            dict_width = max(int(n_dict - 1).bit_length(), 1)
            comp_dict = _compress(dict_plain, codec)
            # v2 convention: dict page declares PLAIN, data pages
            # RLE_DICTIONARY (PLAIN_DICTIONARY is deprecated for v2
            # pages; r5 review pass 3 #6). v1 keeps the legacy pairing.
            dict_page_enc = (
                "PLAIN" if data_page_version == 2 else "PLAIN_DICTIONARY"
            )
            hdr = _page_header(
                2,
                len(dict_plain),
                len(comp_dict),
                [(1, _CT_I32, n_dict), (2, _CT_I32, _ENC_IDS[dict_page_enc])],
            )
            dict_off = start
            out += hdr
            out += comp_dict
            raw_total += len(hdr) + len(dict_plain)
            # the data-page encoding name: RLE_DICTIONARY for v2 pages
            enc = "RLE_DICTIONARY" if data_page_version == 2 else enc
            encodings.add(enc)
            if data_page_version == 2:
                encodings.add("PLAIN")  # the dict page's declared encoding
        else:
            dict_off = None
            dict_page_enc = None
            encodings.add(enc)

        # -- per-page pass: level range from the row starts, dense range
        # from the dense prefix; encode, record location + stats --
        data_off = None
        pages = []
        dcur = 0  # dense-value cursor into the group's dictionary indices
        for plo, phi in ranges:
            la, lb = leaf.level_at(plo), leaf.level_at(phi)
            values = g_values if single else leaf.dense(la, lb)
            n_lev = lb - la
            n_dense = _n_values(values)
            pstats = _column_stats(phys, values, n_lev - n_dense, conv == 0)
            rep_lev = None if leaf.reps is None else leaf.reps[la:lb]
            def_lev = None if leaf.defs is None else leaf.defs[la:lb]
            if data_page_version == 2:
                # v2: raw hybrid, no length prefix (lengths in the header);
                # repetition levels FIRST, then definition levels
                rep_bytes = (
                    b"" if rep_lev is None else rle.encode(rep_lev, rep_width)
                )
                dl_bytes = (
                    b"" if def_lev is None else rle.encode(def_lev, def_width)
                )
            else:
                rep_bytes = (
                    b""
                    if rep_lev is None
                    else rle.encode_len_prefixed(rep_lev, rep_width)
                )
                dl_bytes = (
                    b""
                    if def_lev is None
                    else rle.encode_len_prefixed(def_lev, def_width)
                )
            levels = rep_bytes + dl_bytes
            if dict_idx is not None and (
                dict_cut is None or dcur + n_dense <= dict_cut
            ):
                idx_slice = dict_idx[dcur : dcur + n_dense]
                vals_raw = bytes([dict_width]) + rle.encode(
                    idx_slice.astype(np.uint64), dict_width
                )
                page_enc = enc
            else:
                # PLAIN continuation page of a mixed chunk (mid-chunk
                # dict_fallback) — or just a non-dict chunk's page
                page_enc = "PLAIN" if dict_idx is not None else enc
                vals_raw = _encode_values(phys, page_enc, values)
                if dict_idx is not None:
                    encodings.add("PLAIN")
            dcur += n_dense
            page_off = len(out)
            if data_off is None:
                data_off = page_off
            if data_page_version == 2:
                # v2: levels live OUTSIDE the compressed section, lengths
                # in the header; only the value bytes compress
                comp_vals = _compress(vals_raw, codec)
                is_comp = codec is not None and len(comp_vals) < len(vals_raw)
                body_vals = comp_vals if is_comp else vals_raw
                dph2 = [
                    (1, _CT_I32, n_lev),
                    (2, _CT_I32, n_lev - n_dense),
                    (3, _CT_I32, phi - plo),  # rows (slots where rep == 0)
                    (4, _CT_I32, _ENC_IDS[page_enc]),
                    (5, _CT_I32, len(dl_bytes)),
                    (6, _CT_I32, len(rep_bytes)),
                    (7, _CT_TRUE, bool(is_comp)),
                ]
                hdr = _page_header(
                    3,
                    len(levels) + len(vals_raw),
                    len(levels) + len(body_vals),
                    dph2,
                )
                out += hdr
                out += levels
                out += body_vals
                raw_total += len(hdr) + len(levels) + len(vals_raw)
            else:
                data_raw = levels + vals_raw
                comp = _compress(data_raw, codec)
                dph = [
                    (1, _CT_I32, n_lev),
                    (2, _CT_I32, _ENC_IDS[page_enc]),
                    (3, _CT_I32, _ENC_IDS["RLE"]),  # def level encoding
                    (4, _CT_I32, _ENC_IDS["RLE"]),  # rep level encoding
                ]
                hdr = _page_header(0, len(data_raw), len(comp), dph)
                out += hdr
                out += comp
                raw_total += len(hdr) + len(data_raw)
            pages.append(
                {
                    "offset": page_off,
                    "comp_size": len(out) - page_off,
                    "first_row": plo - lo,
                    "n_dense": n_dense,
                    "stats": pstats,
                    "enc": page_enc,
                }
            )
        # chunk-level Statistics: the single-page default reuses the
        # page's stats verbatim; multi-page chunks pay one group pass
        # (byte-order folding of serialized page bounds would be wrong
        # for numeric types). null_count counts every def < max_def slot
        # (missing-by-ancestor + null leaves), the parquet-mr/arrow
        # convention.
        if single:
            stats = dict(pages[0]["stats"])
        else:
            stats = _column_stats(
                phys, g_values, (g_hi - g_lo) - g_dense, conv == 0
            )
        encodings.add("RLE")
        col_meta.append(
            {
                "path": leaf.path,
                "phys": phys,
                "encodings": sorted(_ENC_IDS[e] for e in encodings),
                "n": g_hi - g_lo,
                "start": start,
                "data_off": data_off,
                "dict_off": dict_off,
                "dict_page_enc": dict_page_enc,
                "page_type": 3 if data_page_version == 2 else 0,
                "total_comp": len(out) - start,
                "total_raw": raw_total,
                "stats": stats,
                "pages": pages,
            }
        )
    return col_meta


def _finish_file(path, out: bytearray, rowgroups: list, schema: list,
                 num_rows: int, codec, created_by: str,
                 sorting_columns: list | None = None) -> dict:
    """Footer: the schema elements, then PageIndex and one RowGroup
    struct per group."""

    def _boundary_order(phys: str, pages) -> int:
        """ColumnIndex.boundary_order (0 UNORDERED / 1 ASCENDING / 2
        DESCENDING), computed over the non-null pages' WRITTEN bounds —
        the exact lists a reader binary-searches, so truncated byte-array
        bounds stay consistent with the order claim (parquet-mr's
        ColumnIndexBuilder makes the same call). Byte arrays and bools
        compare as unsigned bytes (the file's declared TypeDefinedOrder);
        fixed types decode their PLAIN stat bytes back to scalars."""
        keys = []
        for p in pages:
            if p["n_dense"] == 0:
                continue
            mn, mx = p["stats"]["min"], p["stats"]["max"]
            if phys not in ("byte_array", "bool"):
                mn = plain.decode(mn, 1, phys)[0]
                mx = plain.decode(mx, 1, phys)[0]
            keys.append((mn, mx))
        if all(a[0] <= b[0] and a[1] <= b[1] for a, b in zip(keys, keys[1:])):
            return 1
        if all(a[0] >= b[0] and a[1] >= b[1] for a, b in zip(keys, keys[1:])):
            return 2
        return 0

    # -- PageIndex: all ColumnIndex structs, then all OffsetIndex structs,
    # after the data and before the footer (parquet-mr's layout). A chunk
    # with a non-null page whose min/max could not be computed (NaN floats,
    # un-boundable byte-array max) skips its ColumnIndex — a wrong bound
    # would corrupt pruning; the OffsetIndex is unconditional. --
    for col_meta, _ in rowgroups:
        for c in col_meta:
            pages = c["pages"]
            indexable = all(
                p["n_dense"] == 0
                or (
                    p["stats"]["min"] is not None
                    and p["stats"]["max"] is not None
                )
                for p in pages
            )
            if not indexable:
                c["ci_off"] = None
                continue
            ci = _tstruct(
                [
                    (1, _CT_LIST, (_CT_TRUE,
                                   [p["n_dense"] == 0 for p in pages])),
                    (2, _CT_LIST, (_CT_BINARY,
                                   [p["stats"]["min"] or b"" for p in pages])),
                    (3, _CT_LIST, (_CT_BINARY,
                                   [p["stats"]["max"] or b"" for p in pages])),
                    (4, _CT_I32, _boundary_order(c["phys"], pages)),
                    (5, _CT_LIST, (_CT_I64,
                                   [p["stats"]["null_count"] for p in pages])),
                ]
            )
            c["ci_off"], c["ci_len"] = len(out), len(ci)
            out += ci
    for col_meta, _ in rowgroups:
        for c in col_meta:
            oi = _tstruct(
                [
                    (
                        1,
                        _CT_LIST,
                        (
                            _CT_STRUCT,
                            [
                                [
                                    (1, _CT_I64, p["offset"]),
                                    (2, _CT_I32, p["comp_size"]),
                                    (3, _CT_I64, p["first_row"]),
                                ]
                                for p in c["pages"]
                            ],
                        ),
                    )
                ]
            )
            c["oi_off"], c["oi_len"] = len(out), len(oi)
            out += oi

    rg_structs = []
    for col_meta, rg_rows in rowgroups:
        chunks = []
        for c in col_meta:
            meta = [
                (1, _CT_I32, _PHYS_IDS[c["phys"]]),
                (2, _CT_LIST, (_CT_I32, c["encodings"])),
                (3, _CT_LIST, (_CT_BINARY, c["path"])),
                (4, _CT_I32, _CODEC_IDS[codec]),
                (5, _CT_I64, c["n"]),
                (6, _CT_I64, c["total_raw"]),
                (7, _CT_I64, c["total_comp"]),
                (9, _CT_I64, c["data_off"]),
            ]
            if c["dict_off"] is not None:
                meta.append((11, _CT_I64, c["dict_off"]))
            meta.append((12, _CT_STRUCT, _stats_struct(c["stats"])))
            # PageEncodingStats (field 13): per-(page type, encoding)
            # page counts — Spark's vectorized reader consults this to
            # take the dictionary-only fast path, and it is how readers
            # see a mixed dict+PLAIN chunk (mid-chunk dict_fallback)
            # without scanning page headers
            enc_counts: dict = {}
            for p in c["pages"]:
                key = (c["page_type"], p["enc"])
                enc_counts[key] = enc_counts.get(key, 0) + 1
            if c["dict_off"] is not None:
                enc_counts[(2, c["dict_page_enc"])] = 1  # dictionary page
            meta.append(
                (
                    13,
                    _CT_LIST,
                    (
                        _CT_STRUCT,
                        [
                            [
                                (1, _CT_I32, pt),
                                (2, _CT_I32, _ENC_IDS[e]),
                                (3, _CT_I32, n),
                            ]
                            for (pt, e), n in sorted(enc_counts.items())
                        ],
                    ),
                )
            )
            chunk = [(2, _CT_I64, c["start"]), (3, _CT_STRUCT, meta)]
            chunk.append((4, _CT_I64, c["oi_off"]))
            chunk.append((5, _CT_I32, c["oi_len"]))
            if c["ci_off"] is not None:
                chunk.append((6, _CT_I64, c["ci_off"]))
                chunk.append((7, _CT_I32, c["ci_len"]))
            chunks.append(chunk)
        rg_fields = [
            (1, _CT_LIST, (_CT_STRUCT, chunks)),
            # total_byte_size is the UNCOMPRESSED data size by spec
            # (readers use it for split planning; r5 advice #1) — the
            # compressed size lives per-chunk in field 7
            (2, _CT_I64, sum(c["total_raw"] for c in col_meta)),
            (3, _CT_I64, rg_rows),
        ]
        if sorting_columns:
            # SortingColumn: declared sort of the rows WITHIN each group
            # (readers use it for merge planning and sort-aware scans) —
            # the caller asserts the order; this writer does not re-sort
            name_idx = {
                ".".join(c["path"]): i for i, c in enumerate(col_meta)
            }
            rg_fields.append(
                (
                    4,
                    _CT_LIST,
                    (
                        _CT_STRUCT,
                        [
                            [
                                (1, _CT_I32, name_idx[nm]),
                                (2, _CT_TRUE, bool(desc)),
                                (3, _CT_TRUE, bool(nulls_first)),
                            ]
                            for nm, desc, nulls_first in sorting_columns
                        ],
                    ),
                )
            )
        rg_structs.append(rg_fields)

    footer = _tstruct(
        [
            (1, _CT_I32, 1),  # version
            (2, _CT_LIST, (_CT_STRUCT, schema)),
            (3, _CT_I64, num_rows),
            (4, _CT_LIST, (_CT_STRUCT, rg_structs)),
            (6, _CT_BINARY, created_by),
            # column_orders: TypeDefinedOrder per column — without it,
            # readers (parquet-cpp/Spark) DISTRUST the v2 min_value/
            # max_value statistics and row-group pruning never happens
            (7, _CT_LIST, (_CT_STRUCT, [[(1, _CT_STRUCT, [])] for _ in rowgroups[0][0]])),
        ]
    )
    out += footer
    out += struct.pack("<I", len(footer))
    out += MAGIC
    with open(path, "wb") as f:
        f.write(out)
    return {"rows": num_rows, "bytes": len(out)}


def flat_strings(values) -> tuple[np.ndarray, bytes]:
    """Convenience: list of str/bytes -> the (lengths, data) dense form."""
    bs = [v.encode() if isinstance(v, str) else bytes(v) for v in values]
    return np.asarray([len(b) for b in bs], np.int64), b"".join(bs)
