"""Generic-table encode/decode: any scalar-typed DataFrame round-trips."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine.jobs import decode as decode_job
from engine.jobs import encode as encode_job


@pytest.fixture(scope="module")
def table(spark):
    rng = np.random.default_rng(3)
    n = 2000
    pdf = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "category": rng.choice(["a", "b", "c"], n),
            "count32": rng.integers(0, 1000, n).astype(np.int32),
            "score": rng.standard_normal(n),
            "flag": rng.integers(0, 2, n).astype(bool),
        }
    )
    df = spark.createDataFrame(pdf)
    df.persist().count()
    return df


def test_derive_columns(spark, table):
    cols = encode_job.derive_columns(table)
    assert {k: (v[0], v[1]) for k, v in cols.items()} == {
        "id": ("int64", None),
        "category": ("bytes", None),
        "count32": ("int32", None),
        "score": ("float64", None),
        "flag": ("bool", None),
    }


def test_generic_roundtrip(spark, table):
    cols = encode_job.derive_columns(table)
    chunks = encode_job.encode_table(
        table, columns=cols, rows_per_bucket=256,
        bucket_key="category", salt_col="id", sort_col="id",
    )
    dec = decode_job.decode_table(chunks, cols)
    a = table.toPandas().sort_values("id").reset_index(drop=True)
    b = dec.toPandas().sort_values("id").reset_index(drop=True)[a.columns]
    assert (a["id"] == b["id"]).all()
    assert (a["category"] == b["category"]).all()
    assert (a["count32"] == b["count32"]).all()
    assert (a["score"] == b["score"]).all()  # doubles bit-exact via PLAIN
    assert (a["flag"] == b["flag"]).all()


def test_unencodable_type_raises(spark):
    # a NullType leaf has no chunk kind at any depth; the error names it
    df = spark.range(5).select(
        F.col("id"),
        F.array(F.struct(F.col("id").alias("a"), F.lit(None).alias("z"))).alias("xs"),
    )
    with pytest.raises(ValueError, match=r"column xs\.element\.z: .* not encodable"):
        encode_job.derive_columns(df)


def test_wide_decimal_is_now_encodable(spark):
    df = spark.range(5).select(
        F.col("id"), F.col("id").cast("decimal(38,10)").alias("dec")
    )
    cols = encode_job.derive_columns(df)
    assert cols["dec"][0] == "bytes" and "decimal_str" in (cols["dec"].logical or "")


def test_logical_types_roundtrip(spark):
    import datetime

    pdf = pd.DataFrame(
        {
            "id": np.arange(200, dtype=np.int64),
            "d": [datetime.date(2026, 1, 1) + datetime.timedelta(days=int(i % 90)) for i in range(200)],
            "ts": [datetime.datetime(2026, 1, 1, 0, 0, 0) + datetime.timedelta(seconds=int(i * 61)) for i in range(200)],
            "grp": ["a" if i % 2 else "b" for i in range(200)],
        }
    )
    df = spark.createDataFrame(pdf)
    cols = encode_job.derive_columns(df)
    assert cols["d"].logical == "date"
    chunks = encode_job.encode_table(
        df, columns=cols, rows_per_bucket=128,
        bucket_key="grp", salt_col="id", sort_col="id",
    )
    dec = decode_job.decode_table(chunks, cols)
    assert dict(dec.dtypes)["d"] == "date"
    a = df.toPandas().sort_values("id").reset_index(drop=True)
    b = dec.toPandas().sort_values("id").reset_index(drop=True)[a.columns]
    assert (a["d"] == b["d"]).all()
    assert (a["ts"] == b["ts"]).all()


def test_decimal_logical_roundtrip(spark):
    df = spark.range(300).select(
        F.col("id"),
        (F.col("id") * 1234567 + 89).cast("decimal(15,4)").alias("amount"),
        F.lit("g").alias("grp"),
    ).withColumn("amount", F.col("amount") / 7)
    cols = encode_job.derive_columns(df)
    amount_type = dict(df.dtypes)["amount"]  # division widens (p,s)
    assert cols["amount"][3] == amount_type
    chunks = encode_job.encode_table(
        df, columns=cols, rows_per_bucket=128,
        bucket_key="grp", salt_col="id", sort_col="id",
    )
    dec = decode_job.decode_table(chunks, cols)
    assert dict(dec.dtypes)["amount"] == amount_type
    a = df.toPandas().sort_values("id").reset_index(drop=True)
    b = dec.toPandas().sort_values("id").reset_index(drop=True)
    assert (a["amount"] == b["amount"]).all()


def test_schema_evolution_missing_column_decodes_null(spark, tmp_path):
    """Chunks written before a column existed decode it as all-NULL
    (parquet missing-column semantics): one store, two commits with
    different schemas, one decode with the union schema."""
    from engine import lineage

    store = lineage.ChunkStore(spark, str(tmp_path / "evo"))
    v1 = spark.range(0, 100).select(
        F.col("id").alias("event_id"),
        F.lit("a").alias("grp"),
        (F.col("id") * 2).cast("double").alias("x"),
    )
    cols_v1 = encode_job.derive_columns(v1)
    lineage.encode_with_resume(
        spark, v1, store, columns=cols_v1,
        rows_per_bucket=64, bucket_key="grp", salt_col="event_id", sort_col="event_id",
    )
    v2 = spark.range(100, 200).select(
        F.col("id").alias("event_id"),
        F.lit("b").alias("grp"),
        (F.col("id") * 2).cast("double").alias("x"),
        F.concat(F.lit("t"), F.col("id")).alias("tag"),  # NEW column
    )
    cols_v2 = encode_job.derive_columns(v2)
    lineage.encode_with_resume(
        spark, v2, store, columns=cols_v2,
        rows_per_bucket=64, bucket_key="grp", salt_col="event_id", sort_col="event_id",
    )
    out = decode_job.decode_table(store.read_chunks(), cols_v2)
    assert out.count() == 200
    old = out.where(F.col("event_id") < 100)
    new = out.where(F.col("event_id") >= 100)
    assert old.where(F.col("tag").isNull()).count() == 100
    assert new.where(F.col("tag").isNull()).count() == 0
    assert out.agg(F.sum("x")).first()[0] == sum(i * 2.0 for i in range(200))


def test_sort_col_outside_encoded_columns(spark):
    """Rows may be ordered by a column that is not itself encoded."""
    df = spark.range(40).select(
        F.col("id"), F.lit("g").alias("grp"), (F.col("id") * 2).alias("x")
    )
    cols = {"x": encode_job.ColumnSpec("int64")}
    chunks = encode_job.encode_table(
        df, columns=cols, bucket_key="grp", salt_col="id", sort_col="id"
    )
    out = decode_job.decode_table(chunks, cols)
    assert sorted(r["x"] for r in out.collect()) == list(range(0, 80, 2))
