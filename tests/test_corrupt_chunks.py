"""Corrupt-input robustness: every malformed frame raises a clean
ValueError — never numpy index chaos, KeyError, or silent garbage.

Mirrors the reference's fuzz harness over its read path
(``fuzz/src/main.rs:14-32``) and its malformed golden file
(``data/nation.dict-malformed.parquet``): truncated header/payload, bad
magic/version/codec/dtype/flags, CRC flips, lying n_values, a LIST frame
whose lengths disagree with the element count, STRUCT frames whose fields
disagree on rows or whose length prefix is cut, and a bad block-codec id
inside a compressed frame.
"""

import numpy as np
import pytest

from engine import chunk
from engine.jobs import decode as decode_job


@pytest.fixture(scope="module")
def blob() -> bytes:
    return chunk.encode_chunk(np.arange(100, dtype=np.int32), "plain", "int32")


def _patch(raw: bytes, offset: int, value: bytes) -> bytes:
    return raw[:offset] + value + raw[offset + len(value) :]


def _refit_crc(raw: bytes) -> bytes:
    """Recompute the stored CRC over the (possibly tampered) payload so the
    test reaches the guard BEHIND the checksum."""
    import zlib

    payload = raw[chunk._HEADER_LEN :]
    crc = (zlib.crc32(payload) & 0xFFFFFFFF).to_bytes(4, "little")
    return _patch(raw, 24, crc)


def test_empty_and_garbage_blobs(blob):
    with pytest.raises(ValueError, match="truncated chunk header"):
        chunk.decode_chunk(b"")
    with pytest.raises(ValueError, match="truncated chunk header"):
        chunk.decode_chunk(blob[:20])
    with pytest.raises(ValueError, match="magic"):
        chunk.decode_chunk(bytes(np.random.default_rng(0).integers(0, 256, 64, dtype=np.uint8)))


def test_bad_magic(blob):
    with pytest.raises(ValueError, match="magic"):
        chunk.decode_chunk(_patch(blob, 0, b"XXXX"))


def test_bad_version(blob):
    with pytest.raises(ValueError, match="version"):
        chunk.decode_chunk(_patch(blob, 4, bytes([9])))


def test_bad_codec_id(blob):
    with pytest.raises(ValueError, match="unknown codec id"):
        chunk.decode_chunk(_patch(blob, 5, bytes([99])))


def test_bad_dtype_id(blob):
    with pytest.raises(ValueError, match="unknown dtype id"):
        chunk.decode_chunk(_patch(blob, 6, bytes([99])))


def test_unknown_flags(blob):
    with pytest.raises(ValueError, match="unknown chunk flags"):
        chunk.decode_chunk(_patch(blob, 7, bytes([0x80])))


def test_crc_flip(blob):
    tampered = _patch(blob, len(blob) - 1, bytes([blob[-1] ^ 0xFF]))
    with pytest.raises(ValueError, match="checksum mismatch"):
        chunk.decode_chunk(tampered)


def test_truncated_payload(blob):
    with pytest.raises(ValueError, match="truncated chunk payload"):
        chunk.decode_chunk(blob[:-5])


@pytest.mark.parametrize(
    "codec,dtype,vals",
    [
        ("plain", "int32", np.arange(50, dtype=np.int32)),
        ("delta", "int64", np.arange(50, dtype=np.int64)),
        ("dict", "int32", np.tile(np.arange(5, dtype=np.int32), 10)),
        ("bitpack", "int32", np.arange(50, dtype=np.int32) % 7),
        ("rle", "int32", np.repeat(np.arange(5, dtype=np.int32), 10)),
    ],
)
def test_lying_n_values(codec, dtype, vals):
    """Header claims far more values than the payload holds; the CRC still
    matches (payload untouched), so the codec kernel must fail cleanly."""
    raw = chunk.encode_chunk(vals, codec, dtype)
    lying = _patch(raw, 8, (10_000_000).to_bytes(8, "little"))
    with pytest.raises(ValueError):
        chunk.decode_chunk(lying)


def test_lying_n_values_byte_arrays():
    lengths = np.array([3, 4, 5], np.int32)
    raw = chunk.encode_chunk((lengths, b"abcdefghijkl"), "plain_ba", "bytes")
    lying = _patch(raw, 8, (1_000_000).to_bytes(8, "little"))
    with pytest.raises(ValueError):
        chunk.decode_chunk(lying)


def test_list_lengths_disagree_with_elements():
    """A LIST frame whose lengths sub-chunk sums past the element count must
    fail record assembly cleanly, not build out-of-bounds Arrow offsets."""
    lengths_blob = chunk.encode_chunk(
        np.array([3, 4], np.int32), "plain", "int32"
    )  # claims 7 elements
    values_blob = chunk.encode_chunk(
        np.arange(5, dtype=np.int32), "plain", "int32"
    )  # only 5 present
    import zlib

    payload = (
        len(lengths_blob).to_bytes(8, "little") + lengths_blob + values_blob
    )
    header = (
        chunk.MAGIC
        + bytes([chunk.VERSION, chunk.LIST, 0, 0])
        + (2).to_bytes(8, "little")
        + (5 * 4 + 8).to_bytes(8, "little")
        + (zlib.crc32(payload) & 0xFFFFFFFF).to_bytes(4, "little")
        + len(payload).to_bytes(8, "little")
    )
    decoded = chunk.decode_chunk(header + payload)  # frame-level OK
    with pytest.raises(ValueError, match="lengths sum"):
        decode_job._column_array(decoded, "list:int32")


def _struct_frame(n: int, children: list, tail: bytes = b"") -> bytes:
    """A hand-built STRUCT frame (encode_chunk_struct refuses bad input)."""
    payload = len(children).to_bytes(4, "little") + b"".join(
        len(c).to_bytes(8, "little") + c for c in children
    )
    return chunk._frame(chunk.STRUCT, "int64", 0, n, 0, payload + tail)


def _ints(n: int) -> bytes:
    return chunk.encode_chunk(np.arange(n, dtype=np.int64), "plain", "int64")


def test_struct_fields_disagree_on_row_count():
    with pytest.raises(ValueError, match="field 1 holds 4 rows, 3 non-null"):
        chunk.decode_chunk(_struct_frame(3, [_ints(3), _ints(4)]))


def test_struct_truncated_child_length_prefix():
    """The field count promises a second child, but only half its u64
    length prefix is present."""
    cut = _struct_frame(3, [_ints(3)])
    payload = bytearray(cut[chunk._HEADER_LEN :])
    payload[:4] = (2).to_bytes(4, "little")
    blob = chunk._frame(chunk.STRUCT, "int64", 0, 3, 0, bytes(payload) + b"\x01\x00\x00\x00")
    with pytest.raises(ValueError, match="truncated length prefix of field 1"):
        chunk.decode_chunk(blob)
    # a child body shorter than its length prefix claims
    long = _struct_frame(3, [_ints(3)])[:-4]
    with pytest.raises(ValueError, match="field 0 claims"):
        chunk.decode_chunk(_refit_crc(_patch(long, 28, (len(long) - 36).to_bytes(8, "little"))))


def test_struct_lying_n_values():
    leaf = _ints(3)
    plain = chunk.encode_chunk_struct([leaf, leaf], 3)
    lying = _patch(plain, 8, (1_000_000).to_bytes(8, "little"))
    with pytest.raises(ValueError, match="field 0 holds 3 rows, 1000000 non-null"):
        chunk.decode_chunk(lying)
    nullable = chunk.encode_chunk_struct(
        [leaf, leaf], 3, valid=np.array([True, False, True, True])
    )
    for n in (2, 1_000_000):
        with pytest.raises(ValueError):
            chunk.decode_chunk(_patch(nullable, 8, n.to_bytes(8, "little")))


def test_struct_field_count_disagrees_with_spec():
    """A STRUCT chunk decoded under a column spec with another number of
    fields fails naming both, not inside Arrow."""
    import pyarrow as pa

    decoded = chunk.decode_chunk(chunk.encode_chunk_struct([_ints(3)], 3))
    two = pa.struct([("a", pa.int64()), ("b", pa.int64())])
    with pytest.raises(ValueError, match="holds 1 fields, the column spec"):
        decode_job._node_array(decoded, two)


def test_bad_block_codec_id():
    vals = np.zeros(4096, np.int32)  # compressible -> FLAG_COMPRESSED set
    raw = chunk.compress_chunk(chunk.encode_chunk(vals, "plain", "int32"), "gzip")
    assert chunk.read_info(raw).flags & chunk.FLAG_COMPRESSED
    tampered = _refit_crc(_patch(raw, chunk._HEADER_LEN, bytes([99])))
    with pytest.raises(ValueError, match="unknown block codec id"):
        chunk.decode_chunk(tampered)


def test_garbage_compressed_bytes():
    """Valid header, valid block-codec id, valid CRC over the stored bytes —
    but the compressed body is garbage: the block library's error must be
    converted to a clean ValueError at the frame boundary."""
    vals = np.zeros(4096, np.int32)
    raw = chunk.compress_chunk(chunk.encode_chunk(vals, "plain", "int32"), "gzip")
    assert chunk.read_info(raw).flags & chunk.FLAG_COMPRESSED
    body_len = len(raw) - chunk._HEADER_LEN - 1
    garbage = bytes([1]) + bytes(np.random.default_rng(3).integers(0, 256, body_len, dtype=np.uint8))
    tampered = _refit_crc(raw[: chunk._HEADER_LEN] + garbage)
    with pytest.raises(ValueError, match="corrupt chunk payload"):
        chunk.decode_chunk(tampered)


def test_codec_swapped_onto_wrong_payload(blob):
    """Valid CRC, but the codec id points a different kernel at the payload:
    must surface as a clean ValueError, whatever the kernel tripped on."""
    for wrong in (chunk.DELTA, chunk.DICT, chunk.PAGED, chunk.LIST):
        tampered = _patch(blob, 5, bytes([wrong]))
        with pytest.raises(ValueError):
            chunk.decode_chunk(tampered)


def test_chunk_row_count_disagreement_fails(spark):
    """Columns of one chunk disagreeing on n_docs (corrupt/mixed-up store)
    must fail decode cleanly — the reference's row-group row-count
    consistency check (src/file/writer.rs:303-313)."""
    from pyspark.sql import functions as F

    from engine import datagen
    from engine.jobs import decode as decode_job
    from engine.jobs import encode as encode_job

    df = datagen.generate_spark(spark, 100)
    chunks = encode_job.encode_table(df, rows_per_bucket=64)
    bad = chunks.withColumn(
        "n_docs",
        F.when(F.col("column") == "n_tok", F.col("n_docs") + 1).otherwise(
            F.col("n_docs")
        ),
    )
    with pytest.raises(Exception, match="disagree on row count"):
        decode_job.decode_chunks(bad).count()


def test_valid_roundtrip_still_works(blob):
    out = chunk.decode_chunk(blob)
    assert np.array_equal(out, np.arange(100, dtype=np.int32))


def test_fuzz_random_blobs_never_escape_valueerror():
    """Direct analog of the reference's fuzz target (fuzz/src/main.rs:14-32):
    arbitrary bytes into the frame decoder must either decode or raise
    ValueError — never IndexError/KeyError/numpy chaos. Seeds mirror the
    fuzz corpus: pure noise, noise with a valid magic, and mutated valid
    frames."""
    rng = np.random.default_rng(1234)
    base = chunk.encode_chunk(np.arange(64, dtype=np.int32), "plain", "int32")
    cases = []
    for n in (0, 1, 4, 35, 36, 37, 100, 500):
        cases.append(bytes(rng.integers(0, 256, n, dtype=np.uint8)))
        cases.append(chunk.MAGIC + bytes(rng.integers(0, 256, max(n - 4, 0), dtype=np.uint8)))
    for _ in range(300):
        blob = bytearray(base)
        for _ in range(int(rng.integers(1, 6))):
            blob[int(rng.integers(0, len(blob)))] = int(rng.integers(0, 256))
        cases.append(bytes(blob))
    for blob in cases:
        try:
            chunk.decode_chunk(blob)
        except ValueError:
            pass  # the contract


def test_fuzz_mutated_list_and_compressed_frames():
    lengths = np.array([3, 0, 2], np.int32)
    lst = chunk.encode_chunk_list(lengths, np.arange(5, dtype=np.int64), "int64")
    comp = chunk.compress_chunk(
        chunk.encode_chunk(np.zeros(4096, np.int32), "plain", "int32"), "gzip"
    )
    rng = np.random.default_rng(99)
    for base in (lst, comp):
        for _ in range(200):
            blob = bytearray(base)
            for _ in range(int(rng.integers(1, 4))):
                blob[int(rng.integers(0, len(blob)))] = int(rng.integers(0, 256))
            try:
                chunk.decode_chunk(bytes(blob))
            except ValueError:
                pass


def test_corrupt_sized_frame_fails_clean():
    """SGZ1-framed block-codec payloads with a lying length or truncated
    body raise clean ValueErrors through decode_chunk, never garbage."""
    import struct

    import numpy as np
    import pytest

    from engine import chunk, compression

    vals = np.arange(5000, dtype=np.int32) % 4
    blob = chunk.encode_chunk(vals, "plain", "int32")
    comp = chunk.compress_chunk(blob, "zstd")
    assert chunk.read_info(comp).flags & chunk.FLAG_COMPRESSED
    # locate the SGZ1 prefix inside the payload (after header + codec id)
    idx = comp.find(compression._SIZED_MAGIC)
    assert idx > 0
    # lie about the uncompressed size (too small AND too large)
    for lying in (1, 1 << 40):
        bad = bytearray(comp)
        bad[idx + 4 : idx + 12] = struct.pack("<Q", lying)
        # CRC covers stored bytes, so this is caught at the checksum layer
        with pytest.raises(ValueError, match="checksum"):
            chunk.decode_chunk(bytes(bad))
    # codec-level: a lying size that passes no CRC (direct codec use) —
    # either the backend raises, or the output must differ from the
    # original payload (silent-correct output with a lying size would mean
    # the size is ignored and the frame contract is fiction)
    codec = compression.create_codec("zstd")
    framed = bytearray(codec.compress(b"payload" * 100))
    framed[4:12] = struct.pack("<Q", 3)
    try:
        out = codec.decompress(bytes(framed))
    except Exception:
        out = None
    assert out != b"payload" * 100
