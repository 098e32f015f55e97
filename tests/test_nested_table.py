"""Nested/complex types through the generic job path (VERDICT r1 #3):
array<scalar> columns ride LIST container chunks (lengths sub-chunk +
element sub-chunk — Dremel shredding, reference record assembly
``src/record/reader.rs:159-520``); struct, map and nested-list columns
ride one recursive tree of LIST and STRUCT containers over leaf chunks,
encoded by ``encode_table(derive_columns(df))`` and rebuilt by
``decode_table``.
"""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from engine import chunk
from engine.jobs import decode as decode_job
from engine.jobs import encode as encode_job


def _norm(v):
    if v is None or (isinstance(v, float) and pd.isna(v)):
        return None
    if isinstance(v, (np.ndarray, list)):
        return [_norm(x) for x in v]
    return v


def _assert_same_rows(df, out, key):
    a = df.orderBy(key).toPandas().reset_index(drop=True)
    b = out.select(*df.columns).orderBy(key).toPandas().reset_index(drop=True)
    for c in a.columns:
        for i in range(len(a)):
            assert _norm(a[c][i]) == _norm(b[c][i]), (c, i, a[c][i], b[c][i])


def _roundtrip(df):
    cols = encode_job.derive_columns(df)
    chunks = encode_job.encode_table(
        df, columns=cols, rows_per_bucket=64, bucket_key="grp",
        salt_col="event_id", sort_col="event_id",
    )
    return decode_job.decode_table(chunks, cols)


def test_list_chunk_roundtrip_numeric():
    lengths = np.array([3, 0, 2], np.int32)
    flat = np.array([1, 2, 3, 10, 20], np.int64)
    blob = chunk.encode_chunk_list(lengths, flat, "int64")
    L, V = chunk.decode_chunk(blob)
    assert np.array_equal(L, lengths) and np.array_equal(V, flat)
    assert chunk.read_info(blob).codec == "list"


def test_list_chunk_null_records_and_elements():
    valid = np.array([True, False, True])
    elem_valid = np.array([True, False, True, True, True])
    dense = np.array([7, 8, 9, 10], np.int32)
    blob = chunk.encode_chunk_list(
        np.array([3, 2], np.int32), dense, "int32", valid=valid, elem_valid=elem_valid
    )
    L, V, RV = chunk.decode_chunk(blob)
    assert np.array_equal(RV, valid) and np.array_equal(L, [3, 2])
    vals, ev = V
    assert np.array_equal(ev, elem_valid) and np.array_equal(vals[ev], dense)


def test_generic_lists_roundtrip(spark):
    df = spark.range(0, 400).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.sequence(F.lit(0).cast("long"), (F.col("id") % 5).cast("long")).alias("longs"),
        F.when(
            F.col("id") % 7 != 0,
            F.transform(F.sequence(F.lit(0), F.col("id") % 3),
                        lambda i: F.concat(F.lit("w"), i)),
        ).alias("words"),
        F.transform(F.sequence(F.lit(0), F.col("id") % 4),
                    lambda i: F.when(i % 4 != 3, i.cast("double") / 3)).alias("vals"),
    )
    cols = encode_job.derive_columns(df)
    assert cols["longs"][0] == "list:int64"
    assert cols["words"][0] == "list:bytes"
    chunks = encode_job.encode_table(
        df, columns=cols, rows_per_bucket=128,
        bucket_key="grp", salt_col="event_id", sort_col="event_id",
    )
    out = decode_job.decode_table(chunks, cols)
    _assert_same_rows(df, out, "event_id")


def test_struct_and_map_roundtrip(spark):
    df = spark.range(0, 300).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.when(F.col("id") % 5 != 0, F.struct(
            (F.col("id") * 2).alias("a"),
            F.concat(F.lit("x"), F.col("id")).alias("b"),
            F.struct((F.col("id") % 7).cast("int").alias("c")).alias("inner"),
        )).alias("s"),
        F.map_from_arrays(
            F.array(F.lit("k1"), F.lit("k2")),
            F.array(F.col("id").cast("double"), (F.col("id") * 2).cast("double")),
        ).alias("m"),
    )
    out = _roundtrip(df)
    a = df.orderBy("event_id").collect()
    b = out.select(*df.columns).orderBy("event_id").collect()
    assert a == b
    # null structs came back as null structs, not structs of nulls
    assert out.where(F.col("s").isNull()).count() == df.where(F.col("s").isNull()).count() > 0


def test_array_of_struct_roundtrip(spark):
    """array<struct> shreds to parallel array leaves (repeated group,
    reference src/record/reader.rs:159-240) and rebuilds exactly — null
    arrays, empty arrays, null struct elements, and a nested inner struct
    all round-trip."""
    df = spark.range(0, 300).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.when(
            F.col("id") % 7 != 0,
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.col("id") % 4),
                lambda i: F.when(
                    i % 3 != 2,  # some null struct elements
                    F.struct(
                        (i * 2).alias("a"),
                        F.concat(F.lit("v"), i).alias("b"),
                        F.struct((i % 3).cast("int").alias("c")).alias("inner"),
                    ),
                ),
            ),
        ).alias("items"),
    )
    out = _roundtrip(df)
    a = df.orderBy("event_id").collect()
    b = out.select(*df.columns).orderBy("event_id").collect()
    assert a == b
    # null struct elements came back as null elements, not structs of nulls
    n_null_elem = df.select(
        F.explode("items").alias("e")
    ).where(F.col("e").isNull()).count()
    m_null_elem = out.select(
        F.explode("items").alias("e")
    ).where(F.col("e").isNull()).count()
    assert n_null_elem == m_null_elem > 0


def test_map_with_struct_values_roundtrip(spark):
    """map<string, struct> flattens to a keys leaf plus an array<struct>
    values leaf (which the repeated-group pass shreds further) and rebuilds
    exactly — the reference's KeyValueReader over group values
    (src/record/reader.rs:241-302)."""
    df = spark.range(0, 200).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.create_map(
            F.lit("first"),
            F.struct(F.col("id").alias("n"), F.concat(F.lit("a"), F.col("id")).alias("s")),
            F.lit("second"),
            F.struct((F.col("id") * 2).alias("n"), F.lit("fixed").alias("s")),
        ).alias("m"),
    )
    out = _roundtrip(df)
    a = df.orderBy("event_id").collect()
    b = out.select(*df.columns).orderBy("event_id").collect()
    assert a == b


def test_deep_shapes_roundtrip(spark):
    """Arbitrary nesting depth: array<array<long>> (with null inner arrays,
    empty arrays and a null outer), array<map<string,long>> and
    map<string, array<double>> all shred to scalar-array leaves and rebuild
    exactly (reference assembles any tree: GroupReader/RepeatedReader/
    KeyValueReader, src/record/reader.rs:303-520)."""
    df = spark.range(0, 150).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.when(
            F.col("id") % 11 != 0,
            F.array(
                F.sequence(F.lit(0).cast("long"), F.col("id") % 3),
                F.when(F.col("id") % 4 != 0, F.array().cast("array<bigint>")),
                F.when(
                    F.col("id") % 5 != 0,
                    F.sequence(F.lit(10).cast("long"), F.lit(10) + F.col("id") % 2),
                ),
            ),
        ).alias("aa"),
        F.array(
            F.create_map(F.lit("k1"), F.col("id"), F.lit("k2"), F.col("id") * 2),
            F.create_map(F.lit("k3"), F.col("id") + 7),
        ).alias("am"),
        F.create_map(
            F.lit("xs"),
            F.array((F.col("id") / 3).cast("double"), F.lit(1.5)),
            F.lit("ys"),
            F.array((F.col("id") / 7).cast("double")),
        ).alias("mv"),
    )
    out = _roundtrip(df)
    a = df.orderBy("event_id").collect()
    b = out.select(*df.columns).orderBy("event_id").collect()
    assert a == b
    # null inner arrays and null outer arrays both survived
    assert out.where(F.col("aa").isNull()).count() > 0
    n_null_inner = out.select(F.explode("aa").alias("x")).where(
        F.col("x").isNull()
    ).count()
    assert n_null_inner > 0


def test_dotted_and_dollar_names_roundtrip(spark):
    """A top-level column and struct fields named with '.' and '$' are
    ordinary names: no separator is reserved."""
    df = spark.range(0, 50).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        (F.col("id") * 3).alias("a.b"),
        F.struct(
            F.col("id").alias("a.b"),
            F.concat(F.lit("v"), F.col("id")).alias("c$d"),
        ).alias("c$d"),
    )
    out = _roundtrip(df)
    assert out.columns[2:] == ["a.b", "c$d"]
    a = df.orderBy("event_id").collect()
    b = out.select(*[F.col(f"`{c}`") for c in df.columns]).orderBy("event_id").collect()
    assert a == b


def test_list_stats_recorded(spark):
    df = spark.range(0, 100).select(
        F.col("id").alias("event_id"),
        F.lit("g").alias("grp"),
        F.sequence(F.lit(5).cast("long"), F.lit(9).cast("long")).alias("xs"),
    )
    cols = encode_job.derive_columns(df)
    chunks = encode_job.encode_table(
        df, columns=cols, rows_per_bucket=64,
        bucket_key="grp", salt_col="event_id", sort_col="event_id",
    )
    row = chunks.where(F.col("column") == "xs").first()
    assert row["vmin"] == 5 and row["vmax"] == 9


def test_binary_and_wide_decimal_roundtrip(spark):
    """BinaryType rides BYTE_ARRAY chunks and returns as BinaryType;
    DECIMAL(p>18) rides exact decimal strings."""
    df = spark.range(0, 200).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.encode(F.concat(F.lit("payload-"), F.col("id")), "utf-8").alias("content"),
        F.when(F.col("id") % 5 != 0,
               F.encode(F.col("id").cast("string"), "utf-8")).alias("content_n"),
        F.concat(F.col("id").cast("string"), F.lit(".123456"))
        .cast("decimal(38,6)").alias("big"),
    )
    cols = encode_job.derive_columns(df)
    assert cols["content"][0] == "binary"
    assert cols["big"][0] == "bytes" and cols["big"].logical.startswith("decimal_str")
    chunks = encode_job.encode_table(
        df, columns=cols, rows_per_bucket=64,
        bucket_key="grp", salt_col="event_id", sort_col="event_id",
    )
    out = decode_job.decode_table(chunks, cols)
    assert out.schema["content"].dataType.typeName() == "binary"
    assert out.schema["big"].dataType.simpleString() == "decimal(38,6)"
    a = df.orderBy("event_id").collect()
    b = out.select(*df.columns).orderBy("event_id").collect()
    assert a == b


def test_media_table_through_engine(spark):
    """The multimodal media table (opaque binary content + nullable typed
    metadata) encodes and decodes through the generic job path."""
    from engine.ops import multimodal

    media = multimodal.make_fake_media(spark, n=48)
    cols = encode_job.derive_columns(media)
    chunks = encode_job.encode_table(
        media, columns=cols, rows_per_bucket=32,
        bucket_key="kind", salt_col="media_id", sort_col="media_id",
    )
    out = decode_job.decode_table(chunks, cols)
    assert media.orderBy("media_id").collect() == (
        out.select(*media.columns).orderBy("media_id").collect()
    )


def test_binary_list_roundtrip(spark):
    df = spark.range(0, 100).select(
        F.col("id").alias("event_id"),
        F.lit("g").alias("grp"),
        F.array(
            F.encode(F.col("id").cast("string"), "utf-8"),
            F.encode(F.lit("x"), "utf-8"),
        ).alias("blobs"),
    )
    cols = encode_job.derive_columns(df)
    assert cols["blobs"][0] == "list:binary"
    chunks = encode_job.encode_table(
        df, columns=cols, rows_per_bucket=64,
        bucket_key="grp", salt_col="event_id", sort_col="event_id",
    )
    out = decode_job.decode_table(chunks, cols)
    assert df.orderBy("event_id").collect() == (
        out.select(*df.columns).orderBy("event_id").collect()
    )


def test_struct_of_logical_leaves_roundtrip(spark):
    """A nullable struct whose leaves are date, timestamp, decimal(10,2) and
    decimal(38,6) round-trips value for value, NULL struct slots and NULL
    leaves included."""
    df = spark.range(0, 200).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.when(F.col("id") % 6 != 0, F.struct(
            F.when(F.col("id") % 4 != 1,
                   F.date_add(F.lit("2024-02-27").cast("date"), F.col("id").cast("int"))
                   ).alias("d"),
            F.timestamp_micros(F.col("id") * 86_400_000_123 + 7).alias("ts"),
            F.when(F.col("id") % 5 != 2,
                   (F.col("id") * 12345 - 999_999).cast("decimal(10,2)") / 100
                   ).cast("decimal(10,2)").alias("small"),
            F.concat(F.col("id").cast("string"), F.lit("98765432109876543210.123456"))
            .cast("decimal(38,6)").alias("wide"),
        )).alias("s"),
    )
    out = _roundtrip(df)
    assert out.schema["s"].dataType.simpleString() == (
        df.schema["s"].dataType.simpleString()
    )
    a = df.orderBy("event_id").collect()
    b = out.select(*df.columns).orderBy("event_id").collect()
    assert a == b
    assert out.where(F.col("s").isNull()).count() > 0
    assert out.where(F.col("s.small").isNull() & F.col("s").isNotNull()).count() > 0


def test_empty_struct_roundtrip(spark):
    """A struct without fields still has rows and NULLs: the STRUCT frame
    carries them in its header and def levels, with no child."""
    df = spark.range(0, 40).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("string").alias("grp"),
        F.expr("named_struct()").alias("e"),
        F.expr("if(id % 4 = 0, null, named_struct('z', named_struct()))").alias("ze"),
    )
    out = _roundtrip(df)
    a = df.orderBy("event_id").collect()
    b = out.select(*df.columns).orderBy("event_id").collect()
    assert a == b
    assert out.where(F.col("ze").isNull()).count() == 10
