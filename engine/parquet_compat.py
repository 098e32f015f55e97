"""Byte-level interop with REAL parquet files (VERDICT r4 top-next): parse
the parquet footer and page headers (thrift compact protocol, pure Python)
and decode foreign column chunks with the engine's OWN codecs
(``engine/codecs/{plain,dictionary,rle,delta_for,bytearrays}``).

Why this exists: the engine's grammars (RLE/bit-packed hybrid, delta
miniblock, dict pages, front coding) claim parquet compatibility but — until
this module — had only ever decoded their own output. Decoding files written
by Impala and parquet-mr (the reference's golden files,
``/root/reference/data/*.parquet``, tested by ``src/file/reader.rs:545-703``)
and matching pyarrow's read value-for-value is the cross-validation
self-round-trips cannot provide.

Scope: leaf columns of any nesting — structs and REPEATED (list) levels,
optional at any level — with data page v1 + v2, dictionary pages,
PLAIN / PLAIN_DICTIONARY / RLE_DICTIONARY / RLE(boolean) /
DELTA_BINARY_PACKED / DELTA_LENGTH_BYTE_ARRAY / DELTA_BYTE_ARRAY encodings,
UNCOMPRESSED / SNAPPY / GZIP / ZSTD / LZ4_RAW / hadoop-framed LZ4 /
BROTLI codecs, physical
types BOOLEAN / INT32 / INT64 / INT96 / FLOAT / DOUBLE / BYTE_ARRAY /
FIXED_LEN_BYTE_ARRAY. Every decoded chunk becomes one Arrow array of the
type ``_spark_type`` declares: flat leaves through ``_leaf_array``,
repeated leaves through ``assemble_repeated`` (Dremel record assembly
restricted to one leaf, vectorized at any depth — the reference's
``src/record/reader.rs:334-376`` including the legacy
repeated-group-without-LIST-annotation shape); struct leaves stay
parallel columns (zip them in the query layer). The distributed reader
hands those arrays to Spark as RecordBatches through ``mapInArrow``;
``read_table``/``read_table_pruned`` turn them into their numpy / Python
list dict in one adapter. The engine's own chunk format remains the
production container; this module is a *validator* against foreign
data, not a second reader.
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .codecs import bytearrays, delta_for, plain, rle

MAGIC = b"PAR1"

# --- thrift compact protocol (generic, field-id keyed) ----------------------

_CT_STOP = 0
_CT_TRUE = 1
_CT_FALSE = 2
_CT_BYTE = 3
_CT_I16 = 4
_CT_I32 = 5
_CT_I64 = 6
_CT_DOUBLE = 7
_CT_BINARY = 8
_CT_LIST = 9
_CT_SET = 10
_CT_MAP = 11
_CT_STRUCT = 12


class _Reader:
    """Cursor over a bytes buffer with thrift compact primitives."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def byte(self) -> int:
        b = self.buf[self.pos]
        self.pos += 1
        return b

    def varint(self) -> int:
        out = 0
        shift = 0
        while True:
            b = self.byte()
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7
            if shift > 70:
                raise ValueError("thrift varint too long")

    def zigzag(self) -> int:
        v = self.varint()
        return (v >> 1) ^ -(v & 1)

    def binary(self) -> bytes:
        n = self.varint()
        if n < 0 or self.pos + n > len(self.buf):
            raise ValueError("thrift binary length out of range")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def skip_or_value(self, ctype: int):
        if ctype in (_CT_TRUE, _CT_FALSE):
            return ctype == _CT_TRUE
        if ctype == _CT_BYTE:
            b = self.byte()
            return b - 256 if b >= 128 else b
        if ctype in (_CT_I16, _CT_I32, _CT_I64):
            return self.zigzag()
        if ctype == _CT_DOUBLE:
            (v,) = struct.unpack_from("<d", self.buf, self.pos)
            self.pos += 8
            return v
        if ctype == _CT_BINARY:
            return self.binary()
        if ctype in (_CT_LIST, _CT_SET):
            head = self.byte()
            size = head >> 4
            etype = head & 0x0F
            if size == 15:
                size = self.varint()
            if etype in (_CT_TRUE, _CT_FALSE):
                # bool list ELEMENTS are one byte each (1=true, 2=false),
                # unlike bool struct fields (value in the type nibble)
                return [self.byte() == 1 for _ in range(size)]
            return [self.skip_or_value(etype) for _ in range(size)]
        if ctype == _CT_MAP:
            size = self.varint()
            if size == 0:
                return {}
            kv = self.byte()
            kt, vt = kv >> 4, kv & 0x0F
            return {
                self._hashable(self.skip_or_value(kt)): self.skip_or_value(vt)
                for _ in range(size)
            }
        if ctype == _CT_STRUCT:
            return self.struct()
        raise ValueError(f"unknown thrift compact type {ctype}")

    @staticmethod
    def _hashable(v):
        return bytes(v) if isinstance(v, (bytes, bytearray)) else v

    def struct(self) -> dict:
        """Parse a struct into {field_id: value} (nested structs likewise)."""
        out: dict = {}
        last_id = 0
        while True:
            head = self.byte()
            if head == _CT_STOP:
                return out
            delta = head >> 4
            ctype = head & 0x0F
            fid = last_id + delta if delta else self.zigzag()
            last_id = fid
            out[fid] = self.skip_or_value(ctype)


# --- parquet metadata model --------------------------------------------------

_PHYS = {
    0: "bool",
    1: "int32",
    2: "int64",
    3: "int96",
    4: "float32",
    5: "float64",
    6: "byte_array",
    7: "flba",
}
_ENC = {
    0: "PLAIN",
    2: "PLAIN_DICTIONARY",
    3: "RLE",
    4: "BIT_PACKED",
    5: "DELTA_BINARY_PACKED",
    6: "DELTA_LENGTH_BYTE_ARRAY",
    7: "DELTA_BYTE_ARRAY",
    8: "RLE_DICTIONARY",
    9: "BYTE_STREAM_SPLIT",
}
_CODEC = {
    0: None,
    1: "snappy",
    2: "gzip",
    4: "brotli",
    5: "lz4_hadoop",  # deprecated LZ4: hadoop block framing over lz4_raw
    6: "zstd",
    7: "lz4_raw",
}
_PAGE_DATA = 0
_PAGE_DICT = 2
_PAGE_DATA_V2 = 3


@dataclass
class ColumnInfo:
    path: str
    phys: str
    type_length: int  # FLBA width (0 otherwise)
    max_def: int
    max_rep: int
    encodings: list
    codec: str | None
    num_values: int
    start_offset: int
    total_compressed: int
    conv: int | None = None  # leaf ConvertedType (0 = UTF8, 5 = DECIMAL)
    scale: int | None = None  # DECIMAL logical/converted type scale
    precision: int | None = None  # DECIMAL precision
    rg: int = 0  # row-group ordinal this chunk belongs to
    rg_rows: int = 0  # rows in this chunk's row group (RowGroup.num_rows)
    # chunk-level Statistics bounds as written (PLAIN bytes / raw byte
    # array), for planning-phase row-group pruning; None when absent
    stats_min: bytes | None = None
    stats_max: bytes | None = None
    stats_nulls: int | None = None  # Statistics.null_count (field 3)
    # PageEncodingStats (field 13): [(page_type, encoding_id, count)]
    enc_stats: list = field(default_factory=list)
    nodes: list = field(default_factory=list)  # root->leaf schema path
    # PageIndex locations (ColumnChunk fields 4-7; None when absent)
    oi_off: int | None = None
    oi_len: int | None = None
    ci_off: int | None = None
    ci_len: int | None = None


@dataclass
class FileInfo:
    path: str
    num_rows: int
    created_by: str
    columns: list = field(default_factory=list)  # per row group x column


def _walk_schema(elems: list) -> dict:
    """Flatten the schema tree into {dotted.path: (SchemaElement, max_def,
    max_rep, nodes)} for leaves, where ``nodes`` is the root->leaf path of
    {name, kind ('req'/'opt'/'rep'), def, rep} dicts assembly needs.
    SchemaElement fields: 1 type, 2 type_length, 3 repetition (0 required
    / 1 optional / 2 repeated), 4 name, 5 num_children."""
    leaves: dict = {}
    idx = 1  # elems[0] is the root

    def rec(prefix: list, path_nodes: list, max_def: int, max_rep: int):
        nonlocal idx
        el = elems[idx]
        idx += 1
        name = el[4].decode()
        rep = el.get(3, 0)
        d = max_def + (1 if rep in (1, 2) else 0)
        r = max_rep + (1 if rep == 2 else 0)
        node = {
            "name": name,
            "kind": {0: "req", 1: "opt", 2: "rep"}[rep],
            "def": d,
            "rep": r,
        }
        nchild = el.get(5, 0)
        if nchild:
            for _ in range(nchild):
                rec(prefix + [name], path_nodes + [node], d, r)
        else:
            leaves[".".join(prefix + [name])] = (el, d, r, path_nodes + [node])

    nroot = elems[0].get(5, 0)
    for _ in range(nroot):
        rec([], [], 0, 0)
    return leaves


# ConvertedType ids whose type-defined order is UNSIGNED (UINT_8..UINT_64):
# legacy signed-comparison bounds are wrong for them above 2^(width-1)
_UNSIGNED_CONVS = frozenset((11, 12, 13, 14))


def _stats_bounds(st: dict, phys: int, conv) -> tuple:
    """(min, max) pruning bounds from a chunk Statistics struct (field 12).

    v2 order-defined bounds (5 max_value / 6 min_value) are always trusted.
    The legacy pair (1 max / 2 min) predates PARQUET-251: old parquet-mr
    computed BYTE_ARRAY / FIXED_LEN_BYTE_ARRAY min/max with SIGNED byte
    comparison, so a legacy bound on a string column can exclude row groups
    that actually contain matching rows (silent row loss at plan time) for
    non-ASCII data — the reference tracks exactly this with
    ``is_min_max_deprecated`` (src/file/statistics.rs:106). Legacy bounds
    are therefore accepted ONLY for physical types whose signed order IS
    the type-defined order: BOOLEAN/INT32/INT64/FLOAT/DOUBLE (phys 0-2,
    4-5), and not when an unsigned ConvertedType rides the int (signed
    comparison misorders UINT values above 2^(width-1)). INT96 legacy
    stats are junk order-wise and ignored like byte arrays."""
    st_max = st.get(5)
    st_min = st.get(6)
    if (
        5 not in st
        and 6 not in st
        and phys in (0, 1, 2, 4, 5)
        and conv not in _UNSIGNED_CONVS
    ):
        st_max = st.get(1)
        st_min = st.get(2)
    return st_min, st_max


def read_file_info(path: str) -> FileInfo:
    """Parse the footer of a real parquet file into per-column metadata,
    with nothing but the thrift compact parser above."""
    # read ONLY the magic + footer bytes (seek from both ends) — planning
    # a 10 GB file must not read 10 GB; payload bytes are fetched later by
    # the column readers' own seeks
    with open(path, "rb") as f:
        size = f.seek(0, 2)
        if size < 12:
            raise ValueError(
                f"{path}: not a parquet file (too small for PAR1 magic"
                " + footer)"
            )
        f.seek(0)
        head = f.read(4)
        f.seek(size - 8)
        tail = f.read(8)
        if head != MAGIC or tail[4:] != MAGIC:
            raise ValueError(f"{path}: not a parquet file (missing PAR1 magic)")
        (flen,) = struct.unpack("<I", tail[:4])
        if flen + 8 > size:
            raise ValueError(f"{path}: footer length {flen} exceeds file")
        f.seek(size - 8 - flen)
        footer = f.read(flen)
    # fail-clean contract: a corrupt/truncated footer parses into missing
    # field ids or runs off the buffer — surface all of it as ValueError
    # (r5 advice #4; same pattern as read_column_with_levels)
    try:
        meta = _Reader(footer).struct()
        # FileMetaData: 2 schema, 3 num_rows, 4 row_groups, 6 created_by
        leaves = _walk_schema(meta[2])
        info = FileInfo(
            path=path,
            num_rows=meta[3],
            created_by=(meta.get(6) or b"").decode(errors="replace"),
        )
        for rg_idx, rg in enumerate(meta[4]):
            for chunk in rg[1]:  # RowGroup.columns
                cm = chunk[3]  # ColumnChunk.meta_data
                col_path = ".".join(p.decode() for p in cm[3])
                el, max_def, max_rep, nodes = leaves[col_path]
                # first page offset: dict page (11) if present else data (9)
                start = min(
                    x for x in (cm.get(11), cm[9]) if x is not None
                )
                st = cm.get(12) or {}
                enc_stats = [
                    (e.get(1), e.get(2), e.get(3))
                    for e in (cm.get(13) or [])
                    if isinstance(e, dict)
                ]
                # Logical-type normalization: legacy ConvertedType (field
                # 6) and the modern LogicalType union (field 10) both
                # map onto conv so one read surface serves either file.
                # DECIMAL = member 5 {1: scale, 2: precision}; INTEGER =
                # member 10 {1: bitWidth, 2: isSigned} -> UINT_8..64 /
                # INT_8..64 converted ids; STRING = member 1 -> UTF8.
                conv = el.get(6)
                scale, precision = el.get(7), el.get(8)
                ltype = el.get(10)
                if isinstance(ltype, dict):
                    if 5 in ltype:
                        dec = ltype[5]
                        conv = 5 if conv is None else conv
                        scale = dec.get(1, scale)
                        precision = dec.get(2, precision)
                    elif 10 in ltype and conv is None:
                        it = ltype[10]
                        bw, signed = it.get(1, 32), it.get(2, True)
                        base = 15 if signed else 11  # INT_8 / UINT_8
                        conv = base + {8: 0, 16: 1, 32: 2, 64: 3}.get(
                            bw, 2
                        )
                    elif 1 in ltype and conv is None:
                        conv = 0  # STRING -> UTF8
                st_min, st_max = _stats_bounds(st, cm[1], conv)
                info.columns.append(
                    ColumnInfo(
                        path=col_path,
                        phys=_PHYS[cm[1]],
                        type_length=el.get(2, 0),
                        max_def=max_def,
                        max_rep=max_rep,
                        encodings=[_ENC.get(e, str(e)) for e in cm[2]],
                        codec=_CODEC.get(cm[4], f"codec{cm[4]}"),
                        num_values=cm[5],
                        start_offset=start,
                        total_compressed=cm[7],
                        conv=conv,
                        scale=scale,
                        precision=precision,
                        rg=rg_idx,
                        rg_rows=rg[3],
                        stats_min=(
                            bytes(st_min) if st_min is not None else None
                        ),
                        stats_max=(
                            bytes(st_max) if st_max is not None else None
                        ),
                        stats_nulls=st.get(3),
                        enc_stats=enc_stats,
                        nodes=nodes,
                        oi_off=chunk.get(4),
                        oi_len=chunk.get(5),
                        ci_off=chunk.get(6),
                        ci_len=chunk.get(7),
                    )
                )
    except (KeyError, IndexError, TypeError, AttributeError,
            struct.error) as e:
        raise ValueError(f"{path}: malformed parquet footer ({e!r})") from e
    return info


# --- page decode -------------------------------------------------------------


def _decompress(buf: bytes, codec: str | None, raw_len: int) -> bytes:
    """RAW parquet page codecs (no frame of our own — this is foreign data).
    pyarrow's linked block codecs need the decompressed size, which the page
    header supplies. Codec id 5 (deprecated LZ4) is Hadoop block framing —
    repeated [raw_size BE4][comp_size BE4][lz4_raw block] — NOT the LZ4
    frame format pyarrow calls 'lz4' (r5 review #2); some writers also
    emitted bare lz4_raw under id 5, tried as the fallback. All backend
    errors surface as ValueError (fail-clean contract)."""
    if codec is None:
        return buf
    try:
        if codec == "gzip":
            return zlib.decompress(buf, wbits=31)
        if codec == "lz4_hadoop":
            out = []
            pos = 0
            got = 0
            try:
                while pos < len(buf) and got < raw_len:
                    (rlen,) = struct.unpack_from(">I", buf, pos)
                    (clen,) = struct.unpack_from(">I", buf, pos + 4)
                    block = buf[pos + 8 : pos + 8 + clen]
                    out.append(
                        pa.Codec("lz4_raw").decompress(block, rlen).to_pybytes()
                    )
                    pos += 8 + clen
                    got += rlen
                if got != raw_len:
                    raise ValueError("hadoop-lz4 frames did not cover page")
                return b"".join(out)
            except (OSError, struct.error, ValueError):
                # non-framed legacy variant: the whole page is one raw block
                return pa.Codec("lz4_raw").decompress(buf, raw_len).to_pybytes()
        return pa.Codec(codec).decompress(buf, raw_len).to_pybytes()
    except (OSError, pa.lib.ArrowInvalid, zlib.error) as e:
        raise ValueError(f"page decompression failed ({codec}): {e}") from e


def _bit_width(maxval: int) -> int:
    return int(maxval).bit_length()


def _unpack_msb(buf: np.ndarray, width: int, n: int) -> np.ndarray:
    """Deprecated BIT_PACKED level encoding: values packed MSB-FIRST with
    no run headers (parquet.thrift Encoding.BIT_PACKED; the reference
    reads it in src/encodings/levels.rs:57,76-80) — the bit order is the
    OPPOSITE of the RLE-hybrid's bit-packed runs, which is why this has
    its own kernel instead of reusing codecs/bitpack."""
    nbytes = (n * width + 7) // 8
    if len(buf) < nbytes:
        raise ValueError("BIT_PACKED level run shorter than declared")
    bits = np.unpackbits(np.ascontiguousarray(buf[:nbytes], np.uint8))
    bits = bits[: n * width].reshape(n, width)
    weights = (np.uint64(1) << np.arange(width - 1, -1, -1, dtype=np.uint64))
    return (bits.astype(np.uint64) * weights).sum(axis=1, dtype=np.uint64)


def _decode_values(enc: str, payload: np.ndarray, nvals: int, col: ColumnInfo,
                   dictionary, page_at: str):
    """Decode ``nvals`` leaf values from one data page's value section using
    the ENGINE's codecs. Returns a numpy array (fixed types) or a
    (lengths, data-bytes) pair (byte arrays / FLBA / INT96)."""
    phys = col.phys
    if enc in ("PLAIN_DICTIONARY", "RLE_DICTIONARY"):
        if dictionary is None:
            raise ValueError(f"{col.path}: dictionary-encoded page before "
                             "any dictionary page")
        width = int(payload[0])
        idx = rle.decode(payload[1:], width, nvals).astype(np.int64)
        n_dict = len(dictionary[0] if isinstance(dictionary, tuple)
                     else dictionary)
        if nvals and int(idx.max()) >= n_dict:
            raise ValueError(
                f"{col.path}: dictionary index {int(idx.max())} at or past "
                f"the {n_dict}-entry dictionary (page at {page_at})"
            )
        if isinstance(dictionary, tuple):  # byte-array dict: (lengths, data)
            lens, data = dictionary
            lens64 = lens.astype(np.int64)
            offs = np.concatenate(([0], np.cumsum(lens64)))
            arr = np.frombuffer(data, np.uint8)
            out_lens = lens64[idx]
            # repeat-gather (one O(total-bytes) fancy index, no per-value
            # Python — same idiom as bytearrays.encode_delta_byte_array)
            total = int(out_lens.sum())
            if total == 0:
                return lens[idx], b""
            rep = np.repeat(offs[idx], out_lens)
            within = np.arange(total, dtype=np.int64) - np.repeat(
                np.concatenate(([0], np.cumsum(out_lens)[:-1])), out_lens
            )
            joined = arr[rep + within].tobytes() if total else b""
            return lens[idx], joined
        return dictionary[idx]
    if enc == "PLAIN":
        if phys == "byte_array":
            return plain.decode_byte_arrays(payload, nvals)
        if phys in ("flba", "int96"):
            w = 12 if phys == "int96" else col.type_length
            lens = np.full(nvals, w, np.int64)
            return lens, payload[: nvals * w].tobytes()
        return plain.decode(payload, nvals, phys)
    if enc == "RLE":  # boolean values as len-prefixed hybrid
        if phys != "bool":
            raise ValueError(f"RLE value encoding on non-boolean {col.path}")
        vals, _ = rle.decode_len_prefixed(payload, 1, nvals)
        return vals.astype(bool)
    if enc == "BYTE_STREAM_SPLIT":
        widths = {"float32": 4, "float64": 8, "int32": 4, "int64": 8}
        if phys == "flba":
            k = col.type_length
        elif phys in widths:
            k = widths[phys]
        else:
            raise ValueError(f"BYTE_STREAM_SPLIT on {phys} {col.path}")
        need = nvals * k
        if len(payload) < need:
            raise ValueError(f"{col.path}: BYTE_STREAM_SPLIT payload short")
        # k streams of nvals bytes; value i's byte j lives in stream j
        recon = payload[:need].reshape(k, nvals).T.copy()
        if phys == "flba":
            lens = np.full(nvals, k, np.int64)
            return lens, recon.tobytes()
        dt = {"float32": "<f4", "float64": "<f8", "int32": "<i4", "int64": "<i8"}
        return np.frombuffer(recon.tobytes(), dt[phys], count=nvals)
    if enc == "DELTA_BINARY_PACKED":
        if phys not in ("int32", "int64"):
            raise ValueError(f"DELTA_BINARY_PACKED on {phys} {col.path}")
        vals, _ = delta_for.decode_stream(payload, phys)
        return vals[:nvals]
    if enc == "DELTA_LENGTH_BYTE_ARRAY":
        lens, consumed = delta_for.decode_stream(payload, "int32")
        lens = lens[:nvals].astype(np.int64)
        total = int(lens.sum())
        data = payload[consumed : consumed + total].tobytes()
        return lens, data
    if enc == "DELTA_BYTE_ARRAY":
        prefix, p1 = delta_for.decode_stream(payload, "int32")
        prefix = prefix[:nvals].astype(np.int64)
        suffix_lens, p2 = delta_for.decode_stream(payload[p1:], "int32")
        suffix_lens = suffix_lens[:nvals].astype(np.int64)
        total = int(suffix_lens.sum())
        suffix = payload[p1 + p2 : p1 + p2 + total].tobytes()
        return bytearrays.reassemble_front_coded(prefix, suffix_lens, suffix)
    raise ValueError(f"unsupported value encoding {enc} on {col.path}")


def _decode_dict_page(payload: np.ndarray, nvals: int, col: ColumnInfo):
    """Dictionary page values are PLAIN-encoded."""
    if col.phys == "byte_array":
        return plain.decode_byte_arrays(payload, nvals)
    if col.phys in ("flba", "int96"):
        w = 12 if col.phys == "int96" else col.type_length
        lens = np.full(nvals, w, np.int64)
        return lens, payload[: nvals * w].tobytes()
    return plain.decode(payload, nvals, col.phys)


def read_column(path: str, col: ColumnInfo):
    """Decode one FLAT column chunk -> (values, validity) where values is a
    numpy array or a (lengths, data) pair and validity is a bool array over
    ROWS (True = present; all-True for required columns)."""
    if col.max_rep:
        raise ValueError(
            f"{col.path}: repeated column — row assembly is out of scope "
            "for the flat validator; use read_column_with_levels for the "
            "leaf-stream view"
        )
    vals, defs, _ = read_column_with_levels(path, col)
    return vals, defs == col.max_def


def read_column_with_levels(path: str, col: ColumnInfo,
                            chunk: bytes | None = None):
    """Decode one column chunk of ANY nesting -> (values, def_levels,
    rep_levels): the raw Dremel leaf streams. ``values`` holds exactly the
    stored (non-null, def == max_def) leaf values in record order — the
    stream the engine's TreeBuilder analog assembles from — so foreign
    repeated columns validate the level grammar + value grammar without a
    second row-assembly implementation. rep_levels is all-zero for
    non-repeated columns. ``chunk`` overrides the source bytes — the
    page-pruned read path feeds a synthetic buffer of (dict page +
    selected data pages only), decoded to its end."""
    base = col.start_offset if chunk is None else None
    if chunk is None:
        with open(path, "rb") as f:
            f.seek(col.start_offset)
            chunk = f.read(col.total_compressed)
    raw = np.frombuffer(chunk, np.uint8)
    pos = 0
    dictionary = None
    vals_parts = []
    defs_parts = []
    reps_parts = []
    n_done = 0
    while (n_done < col.num_values) if base is not None else (pos < len(raw)):
        # fail-clean contract (same as the engine's chunk decoders): a
        # corrupt/misaligned page header parses into garbage field ids or
        # runs off the buffer — surface all of it as ValueError
        try:
            rd = _Reader(chunk, pos)
            header = rd.struct()
            body_start = rd.pos
            ptype = header[1]
            raw_len = header[2]
            comp_len = header[3]
        except (KeyError, IndexError, struct.error) as e:
            raise ValueError(
                f"{col.path}: malformed page header at offset {pos} ({e!r})"
            ) from e
        # where the page sits, for errors: its file offset, or its offset
        # in the page-pruned read's buffer of selected pages
        page_at = (
            f"offset {pos} of the selected pages" if base is None
            else f"offset {base + pos}"
        )
        body = raw[body_start : body_start + comp_len]
        pos = body_start + comp_len
        # DictionaryPageHeader (1 num_values) / DataPageHeader (1
        # num_values, 2 encoding) / DataPageHeaderV2 (1 num_values,
        # 2 num_nulls, 4 encoding, 5-6 level byte lengths)
        sub, need = {
            _PAGE_DICT: (7, (1,)),
            _PAGE_DATA: (5, (1, 2)),
            _PAGE_DATA_V2: (8, (1, 2, 4, 5, 6)),
        }.get(ptype, (None, ()))
        if sub is None:
            raise ValueError(f"{col.path}: unsupported page type {ptype}")
        dh = header.get(sub)
        missing = [f for f in need if not isinstance(dh, dict) or f not in dh]
        if missing:
            raise ValueError(
                f"{col.path}: page header at {page_at} lacks "
                f"field(s) {missing} of its type-{ptype} sub-header"
            )
        if ptype == _PAGE_DICT:
            payload = np.frombuffer(
                _decompress(body.tobytes(), col.codec, raw_len), np.uint8
            )
            dictionary = _decode_dict_page(payload, dh[1], col)
            continue
        if ptype == _PAGE_DATA:
            nlevels = dh[1]
            enc = _ENC.get(dh[2], str(dh[2]))
            payload = np.frombuffer(
                _decompress(body.tobytes(), col.codec, raw_len), np.uint8
            )
            off = 0
            # v1 level order: repetition levels first, then definition
            # levels — RLE hybrid with a 4-byte length prefix, or the
            # deprecated BIT_PACKED form (MSB-first, no prefix, length
            # computable from nlevels x width)
            def _v1_levels(buf, enc_id, max_level):
                width = _bit_width(max_level)
                if enc_id == 3:  # RLE
                    return rle.decode_len_prefixed(buf, width, nlevels)
                if enc_id == 4:  # BIT_PACKED (deprecated)
                    return (
                        _unpack_msb(buf, width, nlevels),
                        (nlevels * width + 7) // 8,
                    )
                raise ValueError(
                    f"{col.path}: unsupported v1 level encoding {enc_id}"
                )

            if col.max_rep:
                reps, consumed = _v1_levels(
                    payload, dh.get(4, 3), col.max_rep
                )
                off += consumed
            else:
                reps = np.zeros(nlevels, np.uint64)
            if col.max_def:
                defs, consumed = _v1_levels(
                    payload[off:], dh.get(3, 3), col.max_def
                )
                off += consumed
            else:
                defs = np.full(nlevels, col.max_def, np.uint64)
            nvals = int((defs == col.max_def).sum())
            vals_parts.append(_decode_values(
                enc, payload[off:], nvals, col, dictionary, page_at
            ))
            defs_parts.append(defs)
            reps_parts.append(reps)
            n_done += nlevels
            continue
        if ptype == _PAGE_DATA_V2:
            nlevels = dh[1]
            nnulls = dh[2]
            enc = _ENC.get(dh[4], str(dh[4]))
            dl_len = dh[5]
            rl_len = dh[6]
            compressed = dh.get(7, True)
            # v2 level order: repetition then definition, NOT
            # length-prefixed and NOT compressed (lengths in the header)
            if col.max_rep:
                reps = rle.decode(
                    body[:rl_len], _bit_width(col.max_rep), nlevels
                )
            else:
                reps = np.zeros(nlevels, np.uint64)
            if col.max_def:
                defs = rle.decode(
                    body[rl_len : rl_len + dl_len],
                    _bit_width(col.max_def),
                    nlevels,
                )
            else:
                defs = np.full(nlevels, col.max_def, np.uint64)
            vsec = body[dl_len + rl_len :].tobytes()
            if compressed and col.codec is not None:
                vsec = _decompress(vsec, col.codec, raw_len - dl_len - rl_len)
            payload = np.frombuffer(vsec, np.uint8)
            nvals = nlevels - nnulls
            vals_parts.append(
                _decode_values(enc, payload, nvals, col, dictionary, page_at)
            )
            defs_parts.append(defs)
            reps_parts.append(reps)
            n_done += nlevels
            continue

    defs = np.concatenate(defs_parts) if defs_parts else np.empty(0, np.uint64)
    reps = np.concatenate(reps_parts) if reps_parts else np.empty(0, np.uint64)
    if not vals_parts and col.phys in ("byte_array", "flba", "int96"):
        # a chunk without pages (zero rows) still yields the
        # (lengths, data) form its leaf type takes
        vals_parts = [(np.empty(0, np.int64), b"")]
    if vals_parts and isinstance(vals_parts[0], tuple):
        lens = np.concatenate([p[0] for p in vals_parts]).astype(np.int64)
        data = b"".join(p[1] for p in vals_parts)
        return (lens, data), defs, reps
    vals = (
        np.concatenate(vals_parts)
        if vals_parts
        else np.empty(0, np.uint8)
    )
    return vals, defs, reps


def read_page_index(path: str, col: ColumnInfo):
    """Parse one chunk's PageIndex -> (page_locations, column_index).
    page_locations: [{offset, comp_size, first_row}] from the
    OffsetIndex; column_index: {null_pages, mins, maxs, boundary_order,
    null_counts} or None when the chunk carries no ColumnIndex
    (boundary_order: 0 unordered / 1 ascending / 2 descending)."""
    if col.oi_off is None:
        raise ValueError(f"{col.path}: no OffsetIndex in this file")
    with open(path, "rb") as f:
        f.seek(col.oi_off)
        oi_buf = f.read(col.oi_len)
        ci_buf = None
        if col.ci_off is not None:
            f.seek(col.ci_off)
            ci_buf = f.read(col.ci_len)
    try:
        oi = _Reader(oi_buf).struct()
        locs = [
            {"offset": p[1], "comp_size": p[2], "first_row": p[3]}
            for p in oi[1]
        ]
        ci = None if ci_buf is None else _parse_column_index(ci_buf)
    except (KeyError, IndexError, struct.error) as e:
        raise ValueError(f"{col.path}: malformed PageIndex ({e!r})") from e
    return locs, ci


def _parse_column_index(ci_buf: bytes) -> dict:
    """One ColumnIndex blob -> dict. ``null_counts`` (field 5) is
    OPTIONAL per parquet.thrift — absent (None) when the writer did not
    know per-page null counts, which readers must distinguish from
    all-zero (parquet-mr's ColumnIndexBuilder does the same)."""
    c = _Reader(ci_buf).struct()
    return {
        "null_pages": c[1],
        "mins": c[2],
        "maxs": c[3],
        "boundary_order": c.get(4, 0),
        "null_counts": c.get(5),
    }


def _plain_scalar(buf: bytes, phys: str):
    """One PLAIN-encoded stat value -> Python scalar (numeric types)."""
    return plain.decode(np.frombuffer(buf, np.uint8), 1, phys)[0]


def _dict_may_match(path: str, col: ColumnInfo, locs: list, lo, hi,
                    values: list | None = None) -> bool:
    """Dictionary filtering (parquet-mr's PARQUET-384, the reader-side
    counterpart of ``configure_dictionary``): for a dictionary-encoded
    chunk, decode ONLY the dictionary page and test whether ANY dict
    value falls in [lo, hi] — if none does, no data page can match and
    the whole chunk skips without touching its data bytes. Sharper than
    min/max when stats are truncated or the range sits in a value gap.
    True (may match) when the chunk has no dict page or carries any
    non-dict data page (those values bypass the dictionary)."""
    if isinstance(values, _NullTest):
        return True  # dictionaries store values, never null slots
    if not locs or col.start_offset >= locs[0]["offset"]:
        return True  # no dictionary page
    if col.phys in ("int96", "flba"):
        # dict values decode as raw byte tuples while the predicate is
        # numeric (epoch-ns / typed) — no sound comparison; never filter
        return True
    if col.enc_stats:
        # PageEncodingStats (field 13) names each page TYPE's encodings —
        # the precise mixed-chunk signal (the dict page itself legally
        # declares PLAIN, which the coarse encodings-list check below
        # cannot distinguish; r7 review pass 3 #3)
        if any(
            pt != 2 and enc not in (2, 8)  # data page, not *_DICTIONARY
            for pt, enc, _ in col.enc_stats
        ):
            return True
    elif any(e in col.encodings for e in ("DELTA_BINARY_PACKED",
                                          "DELTA_LENGTH_BYTE_ARRAY",
                                          "DELTA_BYTE_ARRAY",
                                          "BYTE_STREAM_SPLIT", "PLAIN")):
        # no encoding_stats: the encodings list cannot tell a PLAIN dict
        # page from a PLAIN data page — stay conservative
        return True
    with open(path, "rb") as f:
        f.seek(col.start_offset)
        blob = f.read(locs[0]["offset"] - col.start_offset)
    try:
        rd = _Reader(blob)
        header = rd.struct()
        if header[1] != _PAGE_DICT:
            return True
        payload = np.frombuffer(
            _decompress(
                blob[rd.pos : rd.pos + header[3]], col.codec, header[2]
            ),
            np.uint8,
        )
        vals = _decode_dict_page(payload, header[7][1], col)
    except (KeyError, IndexError, struct.error) as e:
        raise ValueError(
            f"{col.path}: malformed dictionary page ({e!r})"
        ) from e
    return bool(
        _residual_mask(
            _leaf_array(col, vals, np.ones(header[7][1], bool)), lo, hi,
            values=values,
        ).any()
    )


def _stat_scalar(c: ColumnInfo, buf: bytes):
    """One PLAIN stat value in the column's COMPARISON domain (r7 review
    #2.1): UINT_32 stats reinterpret the stored int32 bits as unsigned
    before any pruning comparison — the file's sort order IS unsigned,
    and the signed decode silently mis-pruned row groups and pages
    holding values above 2^31. UINT_64 stays out (its materialized
    values remain two's-complement int64, documented n/a)."""
    v = _plain_scalar(buf, c.phys)
    if c.conv == 13 and c.phys == "int32":
        return int(np.uint32(np.int32(v)))
    return v


def decimal_value(raw, phys: str, scale: int):
    """DECIMAL logical-type value -> decimal.Decimal. ``raw`` is either a
    PLAIN stat buffer / raw value bytes (int32/int64/FLBA/byte_array) or
    an already-decoded int. FLBA and byte_array carry the unscaled
    integer big-endian two's complement (parquet LogicalTypes spec)."""
    import decimal

    if phys in ("int32", "int64"):
        unscaled = (
            int(_plain_scalar(bytes(raw), phys))
            if isinstance(raw, (bytes, bytearray, memoryview))
            else int(raw)
        )
    elif phys in ("flba", "byte_array"):
        unscaled = int.from_bytes(bytes(raw), "big", signed=True)
    else:
        raise ValueError(f"DECIMAL on physical type {phys} is not valid")
    return decimal.Decimal(unscaled).scaleb(-scale)


def _norm_bound(col: ColumnInfo, v):
    """Normalize one predicate bound to the column's comparison domain at
    the API boundary (r6 ADVICE #4 — a str bound on a UTF8 column used to
    raise TypeError deep inside bisect): str -> UTF8 bytes for byte
    arrays; fixed types reject bytes/str outright."""
    if col.phys == "byte_array":
        if isinstance(v, str):
            return v.encode()
        if not isinstance(v, (bytes, bytearray)):
            raise TypeError(
                f"{col.path}: byte-array predicate bound must be "
                f"str or bytes, got {type(v).__name__}"
            )
        return bytes(v)
    if isinstance(v, (str, bytes, bytearray)):
        raise TypeError(
            f"{col.path}: {col.phys} predicate bound must be numeric, "
            f"got {type(v).__name__}"
        )
    return v


def _page_prune_mask(path: str, col: ColumnInfo, lo, hi,
                     values: list | None = None):
    """One chunk's ColumnIndex -> (keep mask over pages, OffsetIndex
    locations). A page survives iff its [min, max] intersects [lo, hi] —
    and, for IN-lists (sorted ``values`` with [lo, hi] their envelope),
    iff some member falls inside the page bounds; all-null pages never
    survive (their rows fail any range or IN predicate)."""
    locs, ci = read_page_index(path, col)
    if ci is None:
        raise ValueError(f"{col.path}: no ColumnIndex to prune with")
    if isinstance(values, _NullTest):
        # null placement is independent of boundary_order: IS NULL keeps
        # pages whose null_count proves (or cannot disprove) a null;
        # IS NOT NULL drops only all-null pages
        nulls = ci["null_pages"]
        ncs = ci.get("null_counts")
        if values.want_null:
            keep = [
                bool(nulls[i]) or ncs is None or ncs[i] > 0
                for i in range(len(nulls))
            ]
        else:
            keep = [not n for n in nulls]
        return keep, locs

    def page_min(i):
        mn = bytes(ci["mins"][i])
        return mn if col.phys == "byte_array" else _stat_scalar(col, mn)

    def page_max(i):
        mx = bytes(ci["maxs"][i])
        return mx if col.phys == "byte_array" else _stat_scalar(col, mx)

    nulls = ci["null_pages"]
    nn = [i for i in range(len(nulls)) if not nulls[i]]
    keep = [False] * len(nulls)
    if ci.get("boundary_order") in (1, 2) and nn:
        # ordered index: the surviving pages are one contiguous run of the
        # non-null sequence — binary-search its ends (O(log P) stat
        # decodes, the point of writing boundary_order) instead of
        # decoding every page's bounds. A page survives iff max >= lo AND
        # min <= hi; with mins and maxs both monotone those predicates
        # flip exactly once each across the run (each probe decodes only
        # the one bound its predicate needs).
        from bisect import bisect_left

        idxs = nn if ci["boundary_order"] == 1 else nn[::-1]
        first = (
            0
            if lo is None
            else bisect_left(idxs, True, key=lambda i: page_max(i) >= lo)
        )
        last = (
            len(idxs)
            if hi is None
            else bisect_left(idxs, True, key=lambda i: page_min(i) > hi)
        )
        for i in idxs[first:last]:
            keep[i] = (
                _set_intersects(values, page_min(i), page_max(i))
                if isinstance(values, list)
                else True  # plain range / strict-cmp envelope
            )
    else:
        for i in nn:
            if lo is not None and page_max(i) < lo:
                continue
            if hi is not None and page_min(i) > hi:
                continue
            keep[i] = (
                _set_intersects(values, page_min(i), page_max(i))
                if isinstance(values, list)
                else True
            )
    return keep, locs


def _read_pages_subset(path: str, col: ColumnInfo, keep, locs):
    """Decode exactly the kept pages of one chunk -> (values, def_levels,
    rep_levels). The dictionary page (when present) is always read,
    selected page bytes are fetched by direct seek from the OffsetIndex,
    and skipped pages' bytes never leave storage. rep_levels is all-zero
    for flat columns; repeated columns get the raw Dremel leaf streams of
    the selected pages (pages indexed by an OffsetIndex begin at record
    boundaries per the parquet spec, so the subset re-assembles)."""
    with open(path, "rb") as f:
        parts = []
        if locs and col.start_offset < locs[0]["offset"]:
            # dictionary page sits between chunk start and the first data
            # page; indices are meaningless without it
            f.seek(col.start_offset)
            parts.append(f.read(locs[0]["offset"] - col.start_offset))
        for k, p in zip(keep, locs):
            if k:
                f.seek(p["offset"])
                parts.append(f.read(p["comp_size"]))
    return read_column_with_levels(path, col, chunk=b"".join(parts))


def read_column_pruned_pages(path: str, col: ColumnInfo, lo, hi):
    """Page-level predicate pushdown over a FOREIGN (or engine-written)
    parquet file using its PageIndex: decode only the data pages whose
    ColumnIndex [min, max] intersects [lo, hi] — the reader half of the
    page-stats feature the reference left as TODO
    (src/column/writer.rs:356,480-481). Returns (values, def_levels,
    pages_read, pages_total)."""
    lo = _norm_bound(col, lo) if lo is not None else None
    hi = _norm_bound(col, hi) if hi is not None else None
    keep, locs = _page_prune_mask(path, col, lo, hi)
    vals, defs, _ = _read_pages_subset(path, col, keep, locs)
    return vals, defs, sum(keep), len(locs)


def _int96_to_ns(lens: np.ndarray, data: bytes) -> np.ndarray:
    """Impala INT96 timestamps -> epoch nanoseconds (int64): 8 LE bytes of
    nanos-within-day then 4 LE bytes of Julian day number. Julian day 0 is
    the all-zero sentinel Impala/parquet-mr write for epoch/NULL timestamps
    (the naive formula would put day 0 ~6.7 millennia of nanoseconds below
    int64 range); pyarrow reads those rows as epoch + nanos, matched here."""
    n = len(lens)
    arr = np.frombuffer(data, np.uint8).reshape(n, 12)
    nanos = arr[:, :8].copy().view("<u8").reshape(n).astype(np.int64)
    jday = arr[:, 8:].copy().view("<u4").reshape(n).astype(np.int64)
    return np.where(
        jday == 0, nanos, (jday - 2440588) * 86_400_000_000_000 + nanos
    )


_SPARK_TYPES = {
    "bool": "boolean",
    "int32": "int",
    "int64": "long",
    "int96": "long",  # epoch nanoseconds
    "float32": "float",
    "float64": "double",
    "byte_array": "binary",
    "flba": "binary",
}

# Spark's Arrow type for each leaf type (pyspark's to_arrow_type)
_ARROW_TYPES = {
    "boolean": pa.bool_(),
    "int": pa.int32(),
    "long": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "binary": pa.binary(),
    "string": pa.string(),
}

_MAX_OFFSET = np.iinfo(np.int32).max  # Spark's Arrow types: 32-bit offsets


def _leaf_spark_type(c: ColumnInfo) -> str:
    """Spark type of one leaf VALUE: UINT_32 (converted type 13) widens to
    long, INT96 is epoch-ns long, a UTF8 leaf under a repeated node is a
    string, every other byte array stays binary."""
    if c.conv == 13 and c.phys == "int32":
        return "long"
    if c.max_rep and c.phys == "byte_array" and c.conv == 0:
        return "string"
    return _SPARK_TYPES[c.phys]


def _spark_type(c: ColumnInfo) -> str:
    """Spark DDL type of one leaf's projection: each repeated ancestor
    wraps one array<> level around the leaf type. Repeated UTF8 leaves
    are strings; flat byte arrays stay binary — read_table hands them over
    as bytes and the query layer casts (the alltypes golden files lack
    UTF8 annotations anyway). ``_leaf_array`` and ``assemble_repeated``
    build exactly this type's Arrow form."""
    t = _leaf_spark_type(c)
    for _ in range(c.max_rep):
        t = f"array<{t}>"
    return t


def _arrow_type(c: ColumnInfo) -> pa.DataType:
    """Arrow form of ``_spark_type(c)``, list fields named as Spark names
    them."""
    t = _ARROW_TYPES[_leaf_spark_type(c)]
    for _ in range(c.max_rep):
        t = pa.list_(pa.field("element", t))
    return t


def _check_offsets(col: ColumnInfo, n: int, what: str) -> None:
    if n > _MAX_OFFSET:
        raise ValueError(
            f"{col.path}: {n} {what} need 64-bit (large_*) Arrow offsets; "
            "the column's Spark Arrow type has 32-bit offsets"
        )


def _leaf_array(col: ColumnInfo, vals, valid: np.ndarray) -> pa.Array:
    """Dense leaf values scattered onto the slots where ``valid`` holds ->
    one Arrow array of the leaf type ``_spark_type`` declares. INT96
    becomes epoch-ns; UINT_32 widens through the unsigned view so values
    above 2^31 stay positive (UINT_8/16 already sit non-negative in int32;
    UINT_64 stays two's-complement int64, n/a by design like the write
    side); byte arrays / FLBA build from (validity bitmap, offsets, data)
    buffers in one constructor. Null slots of fixed types hold zero."""
    n = len(valid)
    n_vals = len(vals[0]) if isinstance(vals, tuple) else len(vals)
    if int(np.count_nonzero(valid)) != n_vals:
        raise ValueError(
            f"{col.path}: assembled {int(np.count_nonzero(valid))} values, "
            f"stream has {n_vals}"
        )
    typ = _ARROW_TYPES[_leaf_spark_type(col)]
    mask = None if valid.all() else ~valid
    if isinstance(vals, tuple) and col.phys != "int96":
        lens, data = vals
        row_lens = np.zeros(n, np.int64)
        row_lens[valid] = lens
        offs = np.concatenate(([0], np.cumsum(row_lens)))
        _check_offsets(col, int(offs[-1]), "value bytes")
        vbuf = (
            None
            if mask is None
            else pa.py_buffer(np.packbits(valid, bitorder="little"))
        )
        return pa.Array.from_buffers(
            typ, n,
            [vbuf, pa.py_buffer(offs.astype(np.int32)), pa.py_buffer(data)],
        )
    if isinstance(vals, tuple):
        vals = _int96_to_ns(*vals)
    elif col.conv == 13 and vals.dtype == np.int32:
        vals = vals.view(np.uint32).astype(np.int64)
    full = np.zeros(n, vals.dtype)
    full[valid] = vals
    return pa.array(full, typ, mask=mask)


def assemble_repeated(col: ColumnInfo, vals, defs: np.ndarray,
                      reps: np.ndarray) -> pa.Array:
    """Dremel record assembly for ONE leaf (reference
    ``src/record/reader.rs:334-376``), vectorized at any depth: the
    (values, def, rep) streams of ``read_column_with_levels`` become one
    Arrow value per record — a list level per REPEATED ancestor, of
    exactly the type ``_spark_type`` declares, with structs collapsed
    (parallel struct leaves assemble independently and zip in the query
    layer). With d_L the def level of the L-th repeated node (d_0 = 0):

    * the slots of level L are the entries with rep <= L-1 and
      def >= d_{L-1} (level 1: one per record);
    * its elements are the entries with rep <= L and def >= d_L;
    * a slot's offset counts the elements before its first entry;
    * a slot is null where an optional node between repeated nodes L-1
      and L is undefined (def below it), else present-but-empty;
    * a leaf element below max_def is a null element.

    The levels nest with one ``ListArray.from_arrays`` each. This covers
    the 3-level LIST convention, the legacy repeated group without
    annotation and the repeated primitive leaf (``repeated int32 nums``);
    level streams that break the grammar raise ValueError."""
    defs = np.asarray(defs, np.int64)
    reps = np.asarray(reps, np.int64)
    if len(defs) and (
        reps[0] != 0 or reps.max() > col.max_rep or defs.max() > col.max_def
    ):
        raise ValueError(
            f"{col.path}: level streams out of range (first rep "
            f"{int(reps[0])}, rep <= {col.max_rep}, def <= {col.max_def})"
        )
    levels = []  # per level: (offsets, null slots)
    slot = reps == 0
    for level, i in enumerate(
        [i for i, nd in enumerate(col.nodes) if nd["kind"] == "rep"], 1
    ):
        d_rep = col.nodes[i]["def"]
        if (defs[reps == level] < d_rep).any():
            raise ValueError(
                f"{col.path}: continuation entry below the repeated node's "
                f"def level {d_rep}"
            )
        # optional nodes above repeated node L-1 sit below its def level,
        # which every slot of level L reaches: only those between count
        null_below = max(
            (nd["def"] for nd in col.nodes[:i] if nd["kind"] == "opt"),
            default=0,
        )
        elem = (reps <= level) & (defs >= d_rep)
        before = np.cumsum(elem) - elem  # elements ahead of each entry
        n_elem = int(np.count_nonzero(elem))
        _check_offsets(col, n_elem, "list elements")
        offsets = np.append(before[slot], n_elem).astype(np.int32)
        levels.append((offsets, defs[slot] < null_below))
        slot = elem
    arr = _leaf_array(col, vals, defs[slot] == col.max_def)
    for offsets, null in reversed(levels):
        arr = pa.ListArray.from_arrays(
            pa.array(offsets), arr,
            type=pa.list_(pa.field("element", arr.type)),
            mask=pa.array(null) if null.any() else None,
        )
    return arr


def _column_array(col: ColumnInfo, vals, defs: np.ndarray,
                  reps: np.ndarray) -> pa.Array:
    """One chunk's leaf streams -> its Arrow column, one slot per row."""
    if col.max_rep:
        return assemble_repeated(col, vals, defs, reps)
    return _leaf_array(col, vals, defs == col.max_def)


def _concat(parts: dict) -> dict:
    """{column: [Arrow array per row group]} -> {column: one array}, row
    groups in order."""
    out = {}
    for name, arrs in parts.items():
        try:
            out[name] = arrs[0] if len(arrs) == 1 else pa.concat_arrays(arrs)
        except pa.ArrowInvalid as e:
            raise ValueError(
                f"{name}: row groups together need 64-bit (large_*) Arrow "
                f"offsets ({e})"
            ) from e
    return out


def _fixed_values(arr: pa.Array) -> np.ndarray:
    """Fixed-type Arrow array -> numpy, null slots zero-filled."""
    if arr.null_count:
        arr = arr.fill_null(False if pa.types.is_boolean(arr.type) else 0)
    return arr.to_numpy(zero_copy_only=False, writable=True)


def _pylist(arr: pa.Array) -> list:
    """Arrow array -> Python values, None for nulls: lists slice their
    child's values by offsets, byte arrays convert through numpy."""
    if pa.types.is_binary(arr.type) or pa.types.is_string(arr.type):
        return arr.to_numpy(zero_copy_only=False).tolist()
    if pa.types.is_list(arr.type):
        items = _pylist(arr.values)
        offs = arr.offsets.to_numpy()
        vals = map(items.__getitem__,
                   map(slice, offs[:-1].tolist(), offs[1:].tolist()))
    else:
        vals = _fixed_values(arr).tolist()
    if not arr.null_count:
        return list(vals)
    out = np.fromiter(vals, object, len(arr))
    out[~arr.is_valid().to_numpy(zero_copy_only=False)] = None
    return out.tolist()


def _public(arrs: dict) -> dict:
    """The one adapter from Arrow columns to the public {column: (values,
    validity)} dict: fixed types are numpy arrays with zero-filled null
    slots, byte arrays / FLBA are list[bytes|None], repeated columns are
    nested lists (None for a null list or element); validity is a bool
    array over rows."""
    return {
        name: (
            _fixed_values(arr)
            if pa.types.is_primitive(arr.type)
            else _pylist(arr),
            arr.is_valid().to_numpy(zero_copy_only=False),
        )
        for name, arr in arrs.items()
    }


def _set_intersects(values: list, lo, hi) -> bool:
    """Any member of the sorted ``values`` inside [lo, hi]?"""
    from bisect import bisect_left

    i = bisect_left(values, lo)
    return i < len(values) and values[i] <= hi


class _NullTest:
    """Normalized IS [NOT] NULL leaf — carried in the ``values`` slot of
    a normalized predicate so every pruning layer can branch on it."""

    __slots__ = ("want_null",)

    def __init__(self, want_null: bool):
        self.want_null = want_null


def _is_null_test(p: tuple) -> bool:
    """Leaf form ``(column, 'isnull'|'notnull', None)`` — slot 3 must be
    None so a string range like ('word', 'isnull', 'z') stays a range."""
    return p[1] in ("isnull", "notnull") and p[2] is None


_CMP_OPS = (">=", ">", "<=", "<", "==")


class _Cmp:
    """Normalized STRICT comparison ('>' / '<') — pruning layers use the
    inclusive envelope (sound: keeps at most the boundary page), the
    residual applies the exact operator."""

    __slots__ = ("op", "v")

    def __init__(self, op: str, v):
        self.op = op
        self.v = v


def _strict_cmp(c: _Cmp, x):
    """Apply a strict comparison to one value or a numpy array."""
    return x > c.v if c.op == ">" else x < c.v


def _is_cmp(p: tuple) -> bool:
    """Leaf form ``(column, op, value)`` with op one of >= > <= < == —
    one-sided ranges and equality, mapping Spark's GreaterThan[OrEqual] /
    LessThan[OrEqual] / EqualTo pushdown leaves. A string range whose lo
    is literally an op token is expressible as two one-sided leaves:
    ``[(col, '>=', '>'), (col, '<=', hi)]``."""
    return p[1] in _CMP_OPS


def _rg_may_match(c: ColumnInfo, lo, hi, values: list | None = None) -> bool:
    """Planning-phase row-group pruning from the chunk's footer
    Statistics: False only when [min, max] provably misses [lo, hi] —
    or, for null tests, when the footer null_count proves the group
    holds no (non-)null rows. Truncated byte-array bounds stay
    conservative by construction (the written min lower-bounds, the
    incremented-prefix max upper-bounds). Bool/unstatted chunks always
    match."""
    if isinstance(values, _NullTest):
        if values.want_null:
            return c.stats_nulls != 0  # None = unknown -> keep
        return c.stats_nulls is None or c.stats_nulls < c.rg_rows
    if c.phys == "bool" or (c.stats_min is None and c.stats_max is None):
        return True
    if lo is not None:
        lo = _norm_bound(c, lo)
    if hi is not None:
        hi = _norm_bound(c, hi)
    if c.phys == "byte_array":
        mn, mx = c.stats_min, c.stats_max
    else:
        mn = (
            _stat_scalar(c, c.stats_min)
            if c.stats_min is not None
            else None
        )
        mx = (
            _stat_scalar(c, c.stats_max)
            if c.stats_max is not None
            else None
        )
    if lo is not None and mx is not None and mx < lo:
        return False
    if hi is not None and mn is not None and mn > hi:
        return False
    if isinstance(values, _Cmp):
        return True  # envelope already applied; residual is exact
    if values is not None and mn is not None and mx is not None:
        # IN-list: a group whose [min, max] brackets only a member GAP
        # prunes even though the envelope overlaps
        return _set_intersects(values, mn, mx)
    return True


def _norm_predicates(predicate) -> list:
    """Normalize the predicate argument into CNF: a list of OR-GROUPS,
    each a list of leaf tuples. Accepted shapes: None -> []; one leaf
    tuple -> [[it]]; a list whose elements are leaf tuples (ANDed) or
    nested LISTS of leaf tuples (each inner list is a disjunction — any
    branch may hold). Leaf forms: a range ``(column, lo, hi)``, a
    comparison ``(column, ">="|">"|"<="|"<"|"==", value)``, an
    IN-list ``(column, "in", [v1, v2, ...])``, or a null test
    ``(column, "isnull"|"notnull", None)`` — the same leaf set Spark
    pushes to its own parquet scans.
    Near-miss shapes fail HERE with a clear message, not deep in the
    read (r7 review #2.5)."""
    if predicate is None:
        return []
    if isinstance(predicate, tuple):
        groups = [[predicate]]
    else:
        try:
            groups = [
                [tuple(q) for q in p] if isinstance(p, list) else [tuple(p)]
                for p in predicate
            ]
        except TypeError:
            raise TypeError(
                "predicate must be one (column, lo, hi) /"
                " (column, 'in', values) tuple, a list of them (AND), or "
                "a list mixing tuples and inner lists of tuples (each "
                f"inner list ORs its branches), got {predicate!r}"
            ) from None
    for grp in groups:
        if not grp:
            raise ValueError("empty OR-group in predicate")
        for p in grp:
            ok = len(p) == 3 and isinstance(p[0], str)
            if ok and _is_in_list(p):
                if len(p[2]) == 0:
                    raise ValueError(f"empty IN-list for column {p[0]!r}")
                if any(v is None for v in p[2]):
                    raise ValueError(
                        f"IN-list for column {p[0]!r} contains None — SQL "
                        "NULL never matches IN; drop it from the list"
                    )
            if ok and p[1] is None:
                raise TypeError(
                    f"bad predicate {p!r}: a None lower bound is not a "
                    "range — one-sided ranges use (column, '<='|'<', "
                    "value)"
                )
            if ok and p[2] is None and not _is_null_test(p):
                raise TypeError(
                    f"bad predicate {p!r}: a None bound is only valid in "
                    "(column, 'isnull'|'notnull', None) — SQL comparisons "
                    "with NULL match nothing; one-sided ranges use "
                    "(column, '>='|'>'|'<='|'<', value)"
                )
            if not ok:
                raise TypeError(
                    f"bad predicate {p!r}: expected (column, lo, hi), "
                    "(column, op, value) with op in "
                    ">= > <= < ==, (column, 'in', values) or "
                    "(column, 'isnull'|'notnull', None)"
                )
    return groups


def _is_in_list(p: tuple) -> bool:
    """IN form iff slot 2 is 'in' AND slot 3 is a real collection — so
    the string range ('word', 'in', 'io') stays expressible (str is not
    a member collection)."""
    return p[1] == "in" and isinstance(
        p[2], (list, tuple, set, frozenset, np.ndarray)
    )


def _norm_one_pred(col: ColumnInfo, p: tuple):
    """One public predicate -> (lo, hi, values|None) in the column's
    comparison domain, or None when the predicate can match NOTHING:
    ranges keep values=None; IN-lists normalize each member and carry
    (envelope lo/hi, sorted members) — the envelope drives the
    ordered-index binary search and row-group stats, the member set
    drives exact page/dict/residual checks. NaN members are dropped
    (NaN = NaN is false, so they match nothing — same SQL semantics as
    the residual); an IN-list left empty returns the nothing-matches
    None. Null tests normalize to (None, None, _NullTest) — IS NULL on
    a REQUIRED leaf is the nothing-matches None. Comparisons normalize
    to one-sided envelopes (a None bound = unbounded): >= / <= / == are
    pure ranges; strict > / < carry a _Cmp for the exact residual."""
    if _is_null_test(p):
        want = p[1] == "isnull"
        if want and col.max_def == 0:
            return None  # required leaf can never be null
        return None, None, _NullTest(want)
    if _is_cmp(p):
        v = _norm_bound(col, p[2])
        if isinstance(v, float) and v != v:
            return None  # NaN compares false under every operator
        op = p[1]
        if op == "==":
            return v, v, None
        if op == ">=":
            return v, None, None
        if op == "<=":
            return None, v, None
        return (v, None, _Cmp(op, v)) if op == ">" else (None, v, _Cmp(op, v))
    if _is_in_list(p):
        vals = sorted(
            b
            for b in (_norm_bound(col, v) for v in p[2])
            if not (isinstance(b, float) and b != b)
        )
        if not vals:
            return None
        return vals[0], vals[-1], vals
    return _norm_bound(col, p[1]), _norm_bound(col, p[2]), None


def _ledger_plan(columns: list | None = None, predicate=None):
    """``mapInArrow`` footer-parse pass shared by the distributed reader
    and the compaction utility (r7 review #7): each input path yields one
    (path, rg, bytes, keep) row per row group — projected compressed
    bytes of the requested columns, plus the planning-phase row-group
    pruning verdict when a predicate is given."""
    preds = _norm_predicates(predicate)

    def plan(batches):
        pred_names = {q[0] for grp in preds for q in grp}
        for batch in batches:
            for p in batch.column("path").to_numpy(zero_copy_only=False):
                sizes: dict = {}
                pred_chunks: dict = {}  # (rg, colname) -> ColumnInfo
                finfo = read_file_info(p)
                for c in finfo.columns:
                    if columns is None or c.path in columns:
                        sizes[c.rg] = sizes.get(c.rg, 0) + c.total_compressed
                    else:
                        sizes.setdefault(c.rg, 0)  # group exists, col pruned
                    if c.path in pred_names:
                        pred_chunks[(c.rg, c.path)] = c
                if pred_names:
                    # schema drift past paths[0] must fail HERE, in the
                    # planning pass, naming the offending file — not as an
                    # opaque task failure in the later pruned read (r7
                    # ADVICE): downstream read_table_pruned raises for a
                    # missing predicate column anyway, so 'keep the group'
                    # would only defer and anonymize the error
                    missing = sorted(
                        pred_names - {c.path for c in finfo.columns}
                    )
                    if missing:
                        raise ValueError(
                            f"{p}: predicate column(s) {missing} absent "
                            "from this file's schema (schema drift inside "
                            "the input set)"
                        )

                norm_cache: dict = {}  # id(q) -> normalized leaf

                def _branch_may(rg, q):
                    c = pred_chunks.get((rg, q[0]))
                    if c is None:
                        return True  # unknown column here: cannot exclude
                    # normalization depends only on the column TYPE,
                    # constant across a file's row groups — cache it
                    # (r7 review pass 4 #8: a big IN-list re-sorted per rg)
                    key = id(q)
                    if key not in norm_cache:
                        norm_cache[key] = _norm_one_pred(c, q)
                    npd = norm_cache[key]
                    return npd is not None and _rg_may_match(c, *npd)

                keep_rg = {
                    rg: all(
                        any(_branch_may(rg, q) for q in grp)
                        for grp in preds
                    )
                    for rg in sizes
                }
                rgs = sorted(sizes)
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.repeat(p, len(rgs)),
                        pa.array(rgs, pa.int32()),
                        pa.array([sizes[k] for k in rgs], pa.int64()),
                        pa.array(
                            [keep_rg.get(k, True) for k in rgs], pa.bool_()
                        ),
                    ],
                    names=["path", "rg", "bytes", "keep"],
                )

    return plan


LEDGER_SCHEMA = "path string, rg int, bytes long, keep boolean"


def pack_row_group_bins(ledger: list, paths: list, target_bytes: int) -> list:
    """Bin-pack ledger rows (dict-like with path/rg/bytes) in file order
    up to the byte budget — row groups are atomic, so one over-budget
    group still gets its own bin. One shared copy (r7 review #7) serving
    both the distributed reader's split planner and the compaction
    utility. Returns [[(path, rg), ...], ...]."""
    order = {p: i for i, p in enumerate(paths)}
    bins: list[list] = []
    cur: list = []
    cur_bytes = 0
    for r in sorted(ledger, key=lambda r: (order[r["path"]], r["rg"])):
        if cur and cur_bytes + r["bytes"] > target_bytes:
            bins.append(cur)
            cur, cur_bytes = [], 0
        cur.append((r["path"], int(r["rg"])))
        cur_bytes += r["bytes"]
    if cur:
        bins.append(cur)
    return bins


def read_parquet_with_engine(spark, path: str | list, columns: list | None = None,
                             target_split_bytes: int = 128 * 1024 * 1024,
                             predicate=None,
                             prune_stats: bool = False,
                             prune_report: dict | None = None):
    """Distributed read of FOREIGN parquet through the engine's own codecs,
    split at ROW-GROUP granularity (``path`` may be one file, a
    directory of .parquet files, or a list sharing a schema). Two phases, mirroring Spark's own scan planning:
    (1) a distributed footer-parse pass over the file list yields one
    (path, rg, bytes) unit per row group — executors read footers, the
    driver collects only the metadata triples (the split ledger Spark's
    scheduler itself holds); (2) units are bin-packed in file order into
    splits of up to ``target_split_bytes`` of projected compressed chunk
    bytes (the analog of spark.sql.files.maxPartitionBytes), one task per
    split, each decoding its groups into Arrow arrays and yielding one
    RecordBatch per group through ``mapInArrow`` — the arrays
    ``_leaf_array``/``assemble_repeated`` build, of exactly the Arrow
    types ``_spark_type`` declares, with no per-value conversion.
    Both scale failure modes are covered: a 10-group 10 GB file fans out
    to 10 tasks instead of serializing behind one core, and 10k tiny row
    groups coalesce into few tasks instead of 10k task launches. The
    driver never touches payload bytes; the schema comes from the FIRST
    file's parsed footer (INT96 surfaces as epoch-ns longs). A column
    whose values would need 64-bit Arrow offsets raises ValueError.

    ``predicate`` — a leaf ``(column, lo, hi)`` / ``(column, op, value)``
    with op in ``>= > <= < ==`` / ``(column, "in", values)`` /
    ``(column, "isnull"|"notnull", None)``, a list of leaves (AND), or
    CNF with inner OR-lists —
    pushes the filter all the way down: row groups whose footer Statistics provably miss the range are
    dropped from the ledger AT PLAN TIME (never scheduled — the analog of
    Spark's partition/row-group pruning), and each surviving task decodes
    through the ``read_table_pruned`` path, skipping non-matching pages
    via the PageIndex and applying the residual filter before rows leave
    the task. ``prune_stats=True`` appends ``_unit`` (string "path#rg") plus
    two long columns ``_pages_read`` / ``_pages_total`` (constant per
    unit) so callers can assert pruning actually happened;
    ``prune_report`` (a caller dict) is filled with the plan-phase counts
    {rg_total, rg_planned} driver-side.

    This is the validation path for golden-file interop (bounded files);
    it deliberately reuses zero pyarrow parquet machinery."""
    if prune_stats and predicate is None:
        raise ValueError(
            "prune_stats=True requires a predicate (the _pages_* columns "
            "report predicate-driven page skipping)"
        )

    if isinstance(path, str) and os.path.isdir(path):
        # directory datasets read like Spark's own reader: every
        # .parquet file, name-sorted, underscore/dot files ignored
        paths = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not paths:
            raise ValueError(f"{path}: no .parquet files in directory")
    else:
        paths = [path] if isinstance(path, str) else list(path)
    info = read_file_info(paths[0])
    if predicate is not None:
        # driver-side flat-predicate validation (mirrors
        # read_table_pruned): a repeated leaf's Statistics null_count
        # counts LEAF entries, not records, so letting it reach the
        # plan-phase stats would silently mis-prune (e.g. a notnull test
        # over all-[]/all-[null] lists) instead of failing clean
        by_path = {}
        for c in info.columns:
            by_path.setdefault(c.path, c)
        for grp in _norm_predicates(predicate):
            for q in grp:
                sc = by_path.get(q[0])
                if sc is not None and sc.max_rep:
                    raise ValueError(
                        f"{q[0]}: pruned read requires flat predicate "
                        "columns"
                    )
    cols = [c for c in info.columns if columns is None or c.path in columns]
    # multi-row-group files repeat each column once per group; keep the
    # first occurrence for schema purposes
    seen: set = set()
    cols = [c for c in cols if not (c.path in seen or seen.add(c.path))]
    if columns is not None:  # honor requested order
        cols.sort(key=lambda c: columns.index(c.path))
    names = [c.path for c in cols]
    schema = ", ".join(f"`{c.path}` {_spark_type(c)}" for c in cols)
    if prune_stats:
        schema += ", `_unit` string, `_pages_read` long, `_pages_total` long"

    plan = _ledger_plan(columns, predicate)

    def gen(batches):
        for batch in batches:
            for p, rg in zip(
                batch.column("path").to_numpy(zero_copy_only=False),
                batch.column("rg").to_numpy(),
            ):
                yield _unit_batch(p, int(rg), names, predicate, prune_stats)

    paths_df = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(len(paths))
    # one job parses every footer executor-side; the collected (path, rg,
    # bytes) triples are the split ledger Spark's own scheduler holds for
    # its scans — metadata only, never payload bytes
    ledger = paths_df.mapInArrow(plan, LEDGER_SCHEMA).collect()
    if prune_report is not None:
        # driver-side planning report: how many row groups the footer
        # statistics excluded before any task was scheduled (a fully
        # pruned unit never runs, so it cannot report page counts itself)
        prune_report["rg_total"] = len(ledger)
        prune_report["rg_planned"] = sum(1 for r in ledger if r["keep"])
    if predicate is not None:
        ledger = [r for r in ledger if r["keep"]]
    # bin-pack in file order (keeps a file's groups adjacent — sequential
    # reads on the same handle) up to the byte budget; parallelize(one
    # slice per split) then places DETERMINISTICALLY one split per task
    # (round-robin repartition can collide streams from different input
    # partitions).
    splits = pack_row_group_bins(ledger, paths, target_split_bytes)
    # one split per slice, flatMap to its units (narrow — keeps each
    # task's units exactly the bin-packed set, unlike count-based slicing)
    rdd = spark.sparkContext.parallelize(
        splits if splits else [[]], max(len(splits), 1)
    ).flatMap(lambda s: s)
    units = spark.createDataFrame(rdd, "path string, rg int")
    return units.mapInArrow(gen, schema)


def _unit_batch(path: str, rg: int, names: list, predicate,
                prune_stats: bool) -> pa.RecordBatch:
    """One (file, row group) unit of the distributed reader -> one
    RecordBatch of the ``names`` columns (plus the ``_unit`` /
    ``_pages_read`` / ``_pages_total`` columns under ``prune_stats``)."""
    if predicate is None:
        arrs = _read_arrays(path, names, rg)
    else:
        arrs, pr, pt = _pruned_arrays(path, predicate, names, rg)
    out = [arrs[n] for n in names]
    if prune_stats:
        n = len(out[0])
        out += [
            pa.repeat(f"{path}#{rg}", n),
            pa.repeat(pa.scalar(pr, pa.int64()), n),
            pa.repeat(pa.scalar(pt, pa.int64()), n),
        ]
        names = names + ["_unit", "_pages_read", "_pages_total"]
    return pa.RecordBatch.from_arrays(out, names=names)


def read_table(path: str, columns: list | None = None,
               row_group: int | None = None) -> dict:
    """Decode a whole parquet file with the engine's codecs ->
    {column: (values, validity)} in the ``_public`` form: numpy for fixed
    types (epoch-ns int64 for INT96), list[bytes|None] for byte arrays /
    FLBA, nested lists for repeated columns. One entry per column;
    multi-row-group files concatenate in row-group order (row groups are
    just consecutive chunk batches, same as the engine's own ChunkStore
    decode). ``row_group`` selects one group's chunks — the split unit of
    the distributed reader, so a task never decodes bytes outside its
    split."""
    return _public(_read_arrays(path, columns, row_group))


def _read_arrays(path: str, columns: list | None,
                 row_group: int | None) -> dict:
    """``read_table`` before the adapter: {column: pa.Array}, in the
    requested column order (file order without ``columns``)."""
    parts: dict = {c: [] for c in columns or ()}
    for col in read_file_info(path).columns:
        if columns is not None and col.path not in columns:
            continue
        if row_group is not None and col.rg != row_group:
            continue
        parts.setdefault(col.path, []).append(
            _column_array(col, *read_column_with_levels(path, col))
        )
    return _concat({k: v for k, v in parts.items() if v})


def _spans_intersect(sel_rows: np.ndarray, a: int, b: int) -> bool:
    """True iff any selected row falls in [a, b) (both arrays sorted)."""
    i = np.searchsorted(sel_rows, a, "left")
    return i < len(sel_rows) and sel_rows[i] < b


def read_table_pruned(path: str, predicate,
                      columns: list | None = None,
                      row_group: int | None = None):
    """PageIndex-pruned table read. ``predicate`` is one leaf —
    a ``(column, lo, hi)`` range or ``(column, "in", values)`` — or a
    LIST whose elements AND together, where each element is a leaf or an
    inner list of leaves that OR together (CNF; branches may reference
    different columns); only the data pages that can hold qualifying rows
    are decompressed and decoded — the full reader half of the
    page-stats feature the reference left as TODO
    (``src/column/writer.rs:356,480-481``), generalized from the single
    column of ``read_column_pruned_pages`` to a whole row-aligned table.
    Predicate columns must be flat (leaf comparisons are row-scalar);
    PROJECTED columns may be repeated — their records re-assemble from
    exactly the pages covering the surviving rows.

    Row alignment across columns with different page boundaries comes
    from each chunk's OffsetIndex ``first_row_index``: the predicate
    columns' surviving pages INTERSECT into candidate row ranges, each
    predicate column decodes only its pages covering those rows and
    applies its residual filter (vectorized — callers get the exact
    WHERE rows, like a Spark scan + Filter), and every other requested
    column decodes only the pages covering the final surviving rows.
    Chunks without a usable PageIndex fall back to whole-chunk decode,
    counting every page as read.

    Returns ({column: (values, validity)}, pages_read, pages_total) with
    the same value shapes as ``read_table`` — also when no row survives:
    every column that would have been read is then an empty column of
    its own type."""
    arrs, pages_read, pages_total = _pruned_arrays(
        path, predicate, columns, row_group
    )
    return _public(arrs), pages_read, pages_total


def _pruned_arrays(path: str, predicate, columns: list | None,
                   row_group: int | None):
    """``read_table_pruned`` before the adapter: ({column: pa.Array},
    pages_read, pages_total)."""
    preds = _norm_predicates(predicate)
    if not preds:
        raise ValueError("read_table_pruned needs at least one predicate")
    info = read_file_info(path)
    by_group: dict[int, dict] = {}
    for c in info.columns:
        if row_group is None or c.rg == row_group:
            by_group.setdefault(c.rg, {})[c.path] = c
    names = columns
    parts: dict[str, list] = {}
    pages_read = 0
    pages_total = 0
    # normalize each leaf ONCE against the schema (identical across row
    # groups; r7 review pass 3 #6). A leaf normalizing to None (it can
    # match nothing, e.g. an all-NaN IN-list) DROPS from its OR-group;
    # an OR-group left empty makes the whole conjunction impossible.
    schema_cols = {c.path: c for c in info.columns}
    norm_groups: list = []
    impossible = False
    for grp in preds:
        leaves = []
        for p in grp:
            sc = schema_cols.get(p[0])
            if sc is None:
                raise ValueError(f"{p[0]}: predicate column not in {path}")
            if sc.max_rep:
                raise ValueError(
                    f"{p[0]}: pruned read requires flat predicate columns"
                )
            np_ = _norm_one_pred(sc, p)
            if np_ is not None:
                leaves.append((p[0],) + np_)
        if not leaves:
            impossible = True
        norm_groups.append(leaves)
    for g in sorted(by_group):
        if impossible:
            break
        cols_g = by_group[g]
        out_names = [n for n in (names or list(cols_g)) if n in cols_g]
        n_rows = next(iter(cols_g.values())).rg_rows

        def _page_spans(locs):
            firsts = [p["first_row"] for p in locs] + [n_rows]
            return firsts

        def _count_all_pages(skip: set):
            """Count the remaining requested columns' pages as total-only
            (group fully pruned before their decode)."""
            nonlocal pages_total
            for n in out_names:
                if n in skip or cols_g[n].oi_off is None:
                    continue
                locs_c, _ = read_page_index(path, cols_g[n])
                pages_total += len(locs_c)

        # -- stage 1: per OR-group, UNION the branches' surviving page
        # spans; intersect the groups into a candidate row mask
        # (index-only, nothing decodes) --
        cand_mask = np.ones(n_rows, bool)
        group_infos: list = []  # per group: [(col, lo, hi, vals, empty, locs)]
        for leaves in norm_groups:
            if not cand_mask.any():
                # an earlier group already emptied the candidates: no
                # point paying further index/dict-page IO (r7 review
                # pass 4 #5); their pages simply go unconsulted
                group_infos.append([])
                continue
            gmask = np.zeros(n_rows, bool)
            ginfo = []
            for cname, plo, phi, pvals in leaves:
                pred = cols_g[cname]
                try:
                    keep, locs = _page_prune_mask(
                        path, pred, plo, phi, values=pvals
                    )
                except ValueError:
                    keep = None
                    try:  # OffsetIndex may exist without a ColumnIndex
                        locs = (
                            read_page_index(path, pred)[0]
                            if pred.oi_off is not None
                            else None
                        )
                    except ValueError:
                        locs = None
                if keep is not None:
                    firsts = _page_spans(locs)
                    lmask = np.zeros(n_rows, bool)
                    for i, k in enumerate(keep):
                        if k:
                            lmask[firsts[i] : firsts[i + 1]] = True
                else:
                    lmask = np.ones(n_rows, bool)
                # dictionary filtering (PARQUET-384): a pure-dict chunk
                # whose dictionary holds NO branch value proves THIS
                # branch empty (in a pure AND that kills the group; in an
                # OR it just contributes nothing to the union). Gated to
                # chunks the ColumnIndex could not narrow (r7 review
                # pass 3 #5 — no double dict decode otherwise).
                unnarrowed = keep is None or all(keep) or not any(keep)
                if (
                    locs
                    and unnarrowed
                    and lmask.any()
                    and not _dict_may_match(
                        path, pred, locs, plo, phi, values=pvals
                    )
                ):
                    lmask[:] = False
                gmask |= lmask
                # a branch stage 1 proved EMPTY (index or dictionary)
                # contributes all-False to the OR — mark it so stage 2
                # never decodes its column just to confirm (r7 review
                # pass 4 #4)
                ginfo.append(
                    (pred, plo, phi, pvals, not lmask.any(), locs)
                )
            cand_mask &= gmask
            group_infos.append(ginfo)
        cand = np.flatnonzero(cand_mask).astype(np.int64)
        counted: set = set()
        if len(cand) == 0:
            for ginfo in group_infos:
                for pred, _, _, _, _, locs in ginfo:
                    if locs is not None and pred.path not in counted:
                        pages_total += len(locs)
                        counted.add(pred.path)
            _count_all_pages(counted)
            continue

        # -- stage 2: decode each predicate column over the candidate
        # rows; OR the residuals within a group, AND across groups --
        residual = np.ones(len(cand), bool)
        decoded: dict = {}  # col -> Arrow array over the candidate rows

        def _col_over_cand(pred, locs):
            nonlocal pages_read, pages_total
            if pred.path not in decoded:
                arr, nr, nt = _decode_rows(
                    path, pred, cand, n_rows, locs=locs
                )
                if pred.path not in counted:
                    pages_read += nr
                    pages_total += nt
                    counted.add(pred.path)
                decoded[pred.path] = arr
            return decoded[pred.path]

        for ginfo in group_infos:
            gres = np.zeros(len(cand), bool)
            for pred, plo, phi, pvals, empty, locs in ginfo:
                if empty:
                    continue  # stage 1 proved this branch matches nothing
                gres |= _residual_mask(
                    _col_over_cand(pred, locs), plo, phi, values=pvals
                )
            residual &= gres
        sel_local = np.flatnonzero(residual)
        sel_rows = cand[sel_local]
        if len(sel_rows) == 0:
            _count_all_pages(counted)
            continue

        # -- stage 3: every requested column slices to the exact rows;
        # predicate columns reuse their stage-2 decode --
        for n in out_names:
            if n in decoded:
                parts.setdefault(n, []).append(decoded[n].take(sel_local))
                continue
            arr, nr, nt = _decode_rows(path, cols_g[n], sel_rows, n_rows)
            if n not in counted:
                pages_read += nr
                pages_total += nt
                counted.add(n)
            parts.setdefault(n, []).append(arr)
    if not parts:
        # no row survived: every column that would have been read, empty
        # and of its own type
        parts = {
            n: [pa.array([], _arrow_type(schema_cols[n]))]
            for n in (names or schema_cols)
            if n in schema_cols
        }
    return _concat(parts), pages_read, pages_total


def _decode_rows(path: str, c: ColumnInfo, rows: np.ndarray, n_rows: int,
                 locs: list | None = None):
    """Decode exactly the pages of one chunk that cover the sorted row
    indices ``rows`` -> (Arrow array of those rows, pages_read,
    pages_total). Repeated columns assemble their records from the
    selected pages' Dremel streams (spec: indexed pages begin at record
    boundaries), so a list column can be PROJECTED through a pruned read
    even though predicates stay on flat columns. Chunks without an
    OffsetIndex decode whole (every page counts as read; at least one
    page per chunk). ``locs`` reuses an already-parsed OffsetIndex (r7
    review #2.4 — stage 1 parses it for predicate columns; re-reading per
    stage doubled the index IO)."""
    if c.oi_off is None:
        arr = _column_array(c, *read_column_with_levels(path, c))
        return arr.take(rows), 1, 1
    locs_c = locs if locs is not None else read_page_index(path, c)[0]
    firsts_c = [p["first_row"] for p in locs_c] + [n_rows]
    keep_c = [
        _spans_intersect(rows, firsts_c[j], firsts_c[j + 1])
        for j in range(len(locs_c))
    ]
    arr = _column_array(c, *_read_pages_subset(path, c, keep_c, locs_c))
    covered = (
        np.concatenate(
            [
                np.arange(firsts_c[j], firsts_c[j + 1], dtype=np.int64)
                for j in range(len(locs_c))
                if keep_c[j]
            ]
        )
        if any(keep_c)
        else np.empty(0, np.int64)
    )
    idx = np.searchsorted(covered, rows)
    if (
        len(covered) != len(arr)  # page not record-aligned (repeated)
        or len(covered) == 0
        or (idx >= len(covered)).any()  # guard the fancy index
        or not np.array_equal(covered[idx], rows)
    ):
        raise ValueError(
            f"{c.path}: OffsetIndex row spans do not cover the "
            "requested rows"
        )
    return arr.take(idx), sum(keep_c), len(locs_c)


def _residual_mask(arr: pa.Array, lo, hi,
                   values: list | None = None) -> np.ndarray:
    """Exact lo <= v <= hi (a None bound is unbounded) — or set
    membership for IN-lists, a strict comparison, or the null test
    itself — over one predicate column's Arrow values (nulls fail any
    range/IN/comparison, as in SQL). Byte arrays compare in
    ``pyarrow.compute``, lexicographically by unsigned byte like Python
    bytes; numbers in numpy over the zero-filled values."""
    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    if isinstance(values, _NullTest):
        return ~valid if values.want_null else valid
    m = valid.copy()
    if pa.types.is_binary(arr.type):
        if isinstance(values, list):
            tests = [pc.is_in(arr, value_set=pa.array(values, arr.type))]
        elif isinstance(values, _Cmp):
            cmp = pc.greater if values.op == ">" else pc.less
            tests = [cmp(arr, pa.scalar(values.v, arr.type))]
        else:
            tests = [
                f(arr, pa.scalar(b, arr.type))
                for f, b in ((pc.greater_equal, lo), (pc.less_equal, hi))
                if b is not None
            ]
        for t in tests:
            m &= t.fill_null(False).to_numpy(zero_copy_only=False)
        return m
    pv = _fixed_values(arr)
    if isinstance(values, list):
        return m & np.isin(pv, np.asarray(values))
    if isinstance(values, _Cmp):
        return m & _strict_cmp(values, pv)
    if lo is not None:
        m &= pv >= lo
    if hi is not None:
        m &= pv <= hi
    return m
