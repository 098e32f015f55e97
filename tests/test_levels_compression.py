"""Level coding (nullable/list shredding) + block compression codecs."""

import numpy as np
import pytest

from engine import compression, levels
from engine.codecs import rle


@pytest.mark.parametrize("max_level", [1, 2, 3, 7])
@pytest.mark.parametrize("n", [0, 1, 8, 100, 1024])
def test_levels_v1_roundtrip(max_level, n):
    rng = np.random.default_rng(max_level * 100 + n)
    lv = rng.integers(0, max_level + 1, n).astype(np.uint64)
    buf = levels.encode_v1(lv, max_level)
    out, consumed = levels.decode_v1(buf, max_level, n)
    assert consumed == len(buf)
    np.testing.assert_array_equal(out, lv)


def test_levels_v1_has_length_prefix():
    # v1 framing: 4-byte LE payload length (src/encodings/levels.rs:134-141)
    lv = np.ones(50, np.uint64)
    buf = levels.encode_v1(lv, 1)
    assert int.from_bytes(buf[:4], "little") == len(buf) - 4


def test_shred_assemble_nullable():
    rng = np.random.default_rng(1)
    vals = rng.integers(0, 100, 200).astype(np.int32)
    valid = rng.integers(0, 2, 200).astype(bool)
    def_levels, dense = valid.astype(np.uint64), vals[valid]
    assert len(dense) == valid.sum()
    out, out_valid = levels.assemble_nullable(def_levels, dense)
    np.testing.assert_array_equal(out_valid, valid)
    np.testing.assert_array_equal(out[valid], vals[valid])


def test_shred_assemble_lists():
    offsets = np.array([0, 3, 5, 5, 9], np.int64)  # one empty list
    rep = levels.shred_lists(offsets)
    assert len(rep) == 9
    # 3 non-empty records -> 3 zeros
    assert (rep == 0).sum() == 3


def test_nullable_end_to_end_with_value_codec():
    """Full nullable column path: def levels v1 + dense DICT values."""
    from engine import chunk

    rng = np.random.default_rng(7)
    vals = rng.integers(0, 50, 1000).astype(np.int32)
    valid = rng.integers(0, 5, 1000) > 0
    def_levels, dense = valid.astype(np.uint64), vals[valid]
    lv_buf = levels.encode_v1(def_levels, 1)
    val_blob = chunk.encode_chunk(dense, "dict", "int32")
    # decode
    out_levels, _ = levels.decode_v1(lv_buf, 1, 1000)
    out_dense = chunk.decode_chunk(val_blob)
    out, out_valid = levels.assemble_nullable(out_levels, out_dense)
    np.testing.assert_array_equal(out_valid, valid)
    np.testing.assert_array_equal(out[valid], vals[valid])


def test_gzip_codec_roundtrip():
    codec = compression.create_codec("gzip")
    data = b"spark-graft " * 1000
    comp = codec.compress(data)
    assert len(comp) < len(data)
    assert codec.decompress(comp) == data


def test_uncompressed_is_none():
    assert compression.create_codec(None) is None
    assert compression.create_codec("uncompressed") is None


def test_unknown_codec_raises():
    with pytest.raises(ValueError, match="unknown"):
        compression.create_codec("lzo")  # unimplemented in reference too


def test_available_codecs_contains_gzip():
    avail = compression.available_codecs()
    assert "gzip" in avail and "uncompressed" in avail


@pytest.mark.parametrize("name", ["snappy", "zstd", "lz4", "brotli"])
def test_pyarrow_backed_codec_roundtrip(name):
    """The non-gzip reference codecs (src/compression.rs:82-239) ride
    pyarrow's linked codecs; each must round-trip and actually shrink a
    compressible payload."""
    import pyarrow as pa

    if not pa.Codec.is_available(name):
        pytest.skip(f"pyarrow built without {name}")
    codec = compression.create_codec(name)
    data = b"spark-graft token stream " * 4000
    comp = codec.compress(data)
    assert len(comp) < len(data)
    assert codec.decompress(comp) == data
    # empty + tiny payloads round-trip too
    assert codec.decompress(codec.compress(b"")) == b""
    assert codec.decompress(codec.compress(b"x")) == b"x"


@pytest.mark.parametrize("name", ["snappy", "zstd", "lz4", "brotli"])
def test_block_compression_chunks_all_codecs(name):
    """compress_chunk -> decode_chunk through every available block codec,
    exercising the FLAG_COMPRESSED frame path end to end."""
    import pyarrow as pa

    from engine import chunk

    if not pa.Codec.is_available(name):
        pytest.skip(f"pyarrow built without {name}")
    vals = np.arange(10_000, dtype=np.int32) % 8
    blob = chunk.encode_chunk(vals, "plain", "int32")
    comp = chunk.compress_chunk(blob, name)
    assert len(comp) < len(blob)
    assert chunk.read_info(comp).flags & chunk.FLAG_COMPRESSED
    np.testing.assert_array_equal(chunk.decode_chunk(comp), vals)


def test_pa_codec_legacy_stream_needs_native_package():
    """An unprefixed legacy stream cannot be decompressed by pyarrow alone
    (the size is unrecoverable); without the dedicated package installed
    the error names it instead of returning garbage."""
    import importlib.util

    codec = compression.create_codec("zstd")
    if importlib.util.find_spec("zstandard") is not None:
        pytest.skip("zstandard installed; legacy path would succeed")
    with pytest.raises(ValueError, match="dedicated"):
        codec.decompress(b"\x28\xb5\x2f\xfd legacy unprefixed stream")


def test_native_codec_frame_interop():
    """_NativeCodec and _PaCodec write the SAME sized frame around the
    codec's standard stream: a frame written by one backend unframes
    identically in the other, and _NativeCodec accepts legacy unprefixed
    streams. (The dedicated packages are absent in this container, so the
    native side is exercised with a stand-in inner codec — the frame logic
    under test is backend-independent.)"""
    import zlib

    a = compression._NativeCodec("fake", zlib.compress, zlib.decompress)
    b = compression._NativeCodec("fake", zlib.compress, zlib.decompress)
    data = b"cross-backend payload " * 100
    blob = a.compress(data)
    # framed: magic + size + standard stream
    assert blob[:4] == compression._SIZED_MAGIC
    inner, n = compression._unframe(blob)
    assert n == len(data) and zlib.decompress(inner) == data
    # other instance reads the frame; legacy unprefixed stream also reads
    assert b.decompress(blob) == data
    assert b.decompress(zlib.compress(data)) == data


def test_rle_bool_chunk():
    from engine import chunk

    v = np.repeat(np.arange(100) % 2 == 0, 37)
    blob = chunk.encode_chunk(v, "rle_bool", "bool")
    np.testing.assert_array_equal(chunk.decode_chunk(blob), v)
    assert chunk.read_info(blob).codec == "rle_bool"


def test_block_compression_over_chunks():
    """compress_chunk wraps a framed chunk's payload in a block codec
    (gzip here); decode transparently decompresses; CRC covers the stored
    bytes so corruption is caught before decompression."""
    import numpy as np
    import pytest

    from engine import chunk

    vals = np.arange(10_000, dtype=np.int32) % 8  # very compressible
    blob = chunk.encode_chunk(vals, "plain", "int32")
    comp = chunk.compress_chunk(blob, "gzip")
    assert len(comp) < len(blob)
    info = chunk.read_info(comp)
    assert info.flags & chunk.FLAG_COMPRESSED
    assert np.array_equal(chunk.decode_chunk(comp), vals)
    # incompressible payload: frame returned unchanged
    rnd = np.random.default_rng(5).integers(-2**31, 2**31 - 1, 4096).astype(np.int32)
    blob2 = chunk.encode_chunk(rnd, "plain", "int32")
    assert chunk.compress_chunk(blob2, "gzip") == blob2
    # corruption detected on the compressed bytes
    bad = bytearray(comp)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="checksum"):
        chunk.decode_chunk(bytes(bad))
    # nullable + compressed stack
    valid = (vals % 3 != 0)
    nblob = chunk.compress_chunk(
        chunk.encode_chunk(vals[valid], "plain", "int32", valid=valid), "gzip"
    )
    out, v = chunk.decode_chunk(nblob)
    assert np.array_equal(v, valid) and np.array_equal(out[v], vals[valid])


def test_writer_properties_compression_end_to_end(spark):
    """WriterProperties.compression stacks a block codec over every chunk;
    the store round-trips and enc_bytes reflect the compressed size."""
    from pyspark.sql import functions as F

    from engine import datagen, properties
    from engine.jobs import decode as decode_job
    from engine.jobs import encode as encode_job

    df = spark.createDataFrame(datagen.generate_pandas(300, seed=5))
    props = properties.WriterProperties(rows_per_bucket=64, compression="gzip")
    chunks = encode_job.encode_table(df, props=props).persist()
    plain = encode_job.encode_table(df, rows_per_bucket=64).persist()
    dec = decode_job.decode_chunks(chunks)
    bad = (
        df.alias("a").join(dec.alias("b"), "doc_id")
        .where(~(F.col("a.tokens") == F.col("b.tokens"))).count()
    )
    assert bad == 0
    ce = chunks.agg(F.sum("enc_bytes")).first()[0]
    pe = plain.agg(F.sum("enc_bytes")).first()[0]
    assert ce <= pe  # gzip never recorded larger (skip-if-bigger)
    chunks.unpersist(); plain.unpersist()
