"""Loud-failure guards: misuse and overflow paths must raise clean
ValueErrors instead of silently corrupting data (ADVICE r2 items: int64
float64-detour rounding, int32 Arrow-offset wraparound)."""

import numpy as np
import pyarrow as pa
import pytest

from engine.jobs import decode as decode_job
from engine.jobs import encode as encode_job


def _encode_one(values, kind):
    """Encode ``values`` as column ``v`` of one doc_id-sorted bucket, the
    Arrow table the streaming encoder hands each bucket to; -> chunk row."""
    n = len(values)
    tbl = pa.table(
        {"chunk_id": ["c"] * n, "doc_id": [f"d{i}" for i in range(n)], "v": values}
    )
    return encode_job._encode_group_arrow(tbl, {"v": (kind, None)}).to_pylist()[0]


def test_scalar_int64_float_detour_raises():
    """A float64 column declared int64 goes through a safe cast; inexact
    values must fail loudly, not round."""
    with pytest.raises(ValueError, match="lossy"):
        _encode_one(pa.array([1.0, 3.5, 2.0]), "int64")  # 3.5 cannot be an int64


def test_scalar_int64_exact_floats_pass():
    # all representable exactly
    row = _encode_one(pa.array([1.0, None, float(2**60)]), "int64")
    assert row["null_count"] == 1


def test_list_int64_float_detour_raises():
    with pytest.raises(ValueError, match="lossy"):
        _encode_one(pa.array([[1.0, 2.5], [3.0]]), "list:int64")


def test_nan_survives_null_free_chunk(spark):
    """A float chunk with NaN but ZERO nulls must still return NaN as a
    VALUE, never as NULL."""
    from pyspark.sql import functions as F

    df = spark.range(0, 100).select(
        F.col("id").alias("event_id"),
        F.lit("g").alias("grp"),
        F.when(F.col("id") % 7 == 0, F.lit(float("nan")))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
    )
    cols = encode_job.derive_columns(df)
    chunks = encode_job.encode_table(
        df, columns=cols, rows_per_bucket=512,
        bucket_key="grp", salt_col="event_id", sort_col="event_id",
    )
    assert chunks.where(F.col("column") == "v").first()["null_count"] == 0
    out = decode_job.decode_table(chunks, cols)
    n_nan = out.where(F.isnan("v")).count()
    n_null = out.where(F.col("v").isNull()).count()
    assert (n_nan, n_null) == (15, 0)


def test_ivf_assign_null_embedding_fails_loudly(spark):
    from engine.ops import simsearch

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None)], "vec_id long, embedding array<double>"
    )
    cents = np.array([[0.0, 0.0], [1.0, 1.0]])
    with pytest.raises(Exception, match="NULL embedding"):
        simsearch.ivf_assign(df, cents).collect()


def test_string_offsets_overflow_guard():
    """Concatenated byte-array payload past 2^31 bytes must raise, not wrap
    int32 Arrow offsets into silently corrupt values."""
    lengths = np.array([1 << 31], dtype=np.int64)
    with pytest.raises(ValueError, match="2\\^31"):
        decode_job._string_array_from_flat(lengths, b"")


def test_list_int64_object_nulls_stay_exact():
    """Lists mixing exact big ints with NULL elements keep int64 precision:
    the encoder shreds the element validity bitmap and the int64 values
    straight from the Arrow buffers, never through float64."""
    from engine import chunk

    big = 2**60 + 12345  # NOT float64-representable
    row = _encode_one(pa.array([[big, None, 7], [None, big + 1]]), "list:int64")
    assert row["null_count"] == 0  # no null LISTS (element nulls are inner)
    lengths, (values, elem_valid) = chunk.decode_chunk(row["payload"])
    np.testing.assert_array_equal(lengths, [3, 2])
    np.testing.assert_array_equal(
        elem_valid, [True, False, True, False, True]
    )
    np.testing.assert_array_equal(values[elem_valid], [big, 7, big + 1])


def test_list_int64_uint64_overflow_raises():
    """Ints above int64 max must fail loudly, never wrap negative: uint64
    children (with or without NULL elements) do not survive the safe cast
    to int64."""
    with pytest.raises(ValueError, match="int64"):
        _encode_one(
            pa.array([[2**63 + 5, None], [1]], pa.list_(pa.uint64())), "list:int64"
        )
    with pytest.raises(ValueError, match="out of range"):
        _encode_one(
            pa.array([np.array([2**63 + 5], np.uint64), np.array([1], np.uint64)]),
            "list:int64",
        )


def test_list_int32_narrowing_overflow_raises():
    """int64 children narrowing to list:int32 must fail loudly, not wrap
    (2**40 must never silently become 0)."""
    with pytest.raises(ValueError, match="out of range"):
        _encode_one(pa.array([[2**40], [1]]), "list:int32")
    # negative out-of-range too
    with pytest.raises(ValueError, match="out of range"):
        _encode_one(pa.array([[-(2**40)], [1]]), "list:int32")


def test_null_token_element_raises(spark):
    """A NULL element inside an int32_list token array must be rejected,
    never encoded as some int32 value."""
    df = spark.createDataFrame(
        [("d1", [1, None, 3], 3, "web"), ("d2", [4], 1, "web")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    with pytest.raises(Exception, match="NULL token elements.*list:int32"):
        encode_job.encode_table(df).collect()


@pytest.mark.parametrize(
    "kind,values,what",
    [
        ("bytes", pa.chunked_array([["a"], ["b"]]), "bytes"),
        ("int32_list", pa.chunked_array([[[1]], [[2]]]), "child values"),
        ("list:bytes", pa.chunked_array([[["a"]], [["b"]]]), "child values or bytes"),
    ],
)
def test_multi_chunk_column_error_names_column_and_kind(kind, values, what):
    """A bucket column Arrow could not combine into one array (offsets past
    2^31) is reported with its name, its kind and what overflowed."""
    with pytest.raises(ValueError) as ei:
        _encode_one(values, kind)
    assert str(ei.value).startswith(f"column 'v' ({kind}): bucket exceeds 2^31 {what};")


def test_decode_ppm_negative_dims_raise():
    """Negative width/height tokens must raise, not produce an inferred-
    shape garbage array (r4 third review)."""
    from engine.ops import multimodal as M

    for hdr in (b"P5 -1 1 255 ", b"P6 -1 1 255 ", b"P6 2 -3 255 "):
        with pytest.raises(ValueError, match="netpbm|dimensions"):
            M.decode_ppm(hdr + bytes(32))
