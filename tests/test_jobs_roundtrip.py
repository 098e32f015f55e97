"""End-to-end Spark jobs: encode -> decode round-trip (the per-row invariant:
exact tokens-array equality), lineage metrics, checkpoint/resume."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine import datagen, lineage, skew
from engine.jobs import decode as decode_job
from engine.jobs import encode as encode_job

N_ROWS = 300


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = datagen.generate_pandas(N_ROWS, seed=42)
    df = spark.createDataFrame(pdf)
    df.persist().count()
    return df


def _as_map(df):
    rows = df.collect()
    return {
        r["doc_id"]: (list(r["tokens"]), r["n_tok"], r["source"]) for r in rows
    }


def test_encode_decode_roundtrip_exact(spark, corpus):
    chunks = encode_job.encode_table(corpus, rows_per_bucket=64)
    decoded = decode_job.decode_chunks(chunks)
    orig = _as_map(corpus)
    out = _as_map(decoded)
    assert set(orig) == set(out)
    for doc_id, (tokens, n_tok, source) in orig.items():
        d_tokens, d_n, d_source = out[doc_id]
        assert d_tokens == tokens, f"token mismatch for {doc_id}"
        assert d_n == n_tok and d_source == source


def test_chunks_carry_lineage_metrics(spark, corpus):
    chunks = encode_job.encode_table(corpus, rows_per_bucket=64).toPandas()
    assert set(chunks["column"]) == {"tokens", "n_tok", "doc_id", "source"}
    assert (chunks["enc_bytes"] > 0).all()
    assert (chunks["checksum"] >= 0).all()
    # compression must actually happen on the token streams overall
    tok = chunks[chunks["column"] == "tokens"]
    assert tok["enc_bytes"].sum() < tok["raw_bytes"].sum()
    # source column is constant per bucket -> dict encodes to almost nothing
    src = chunks[chunks["column"] == "source"]
    assert (src["enc_bytes"] < src["raw_bytes"].clip(lower=64)).all()


def test_bucket_plan_is_deterministic_and_skew_aware(spark, corpus):
    b1 = skew.plan_buckets(corpus, rows_per_bucket=64)
    b2 = skew.plan_buckets(corpus, rows_per_bucket=64)
    m1 = {r["doc_id"]: r["chunk_id"] for r in b1.collect()}
    m2 = {r["doc_id"]: r["chunk_id"] for r in b2.collect()}
    assert m1 == m2
    sizes = (
        b1.groupBy("chunk_id").count().toPandas().set_index("chunk_id")["count"]
    )
    # the dominant source (web, 55%) must be split across multiple buckets
    assert sum(c.startswith("web#") for c in sizes.index) > 1
    assert sizes.max() <= 64 * 2  # hash balance within 2x of target


def test_resume_skips_committed_chunks(spark, corpus, tmp_path):
    store = lineage.ChunkStore(spark, str(tmp_path / "store"))
    # first run: encode only a subset (simulates a killed job)
    subset = corpus.where(F.col("source") != "web")
    n1 = lineage.encode_with_resume(spark, subset, store, rows_per_bucket=64)
    assert n1 > 0
    committed = {r["chunk_id"] for r in store.committed_chunk_ids().collect()}
    assert committed and all(not c.startswith("web#") for c in committed)

    # second run over the FULL input: only missing (web) chunks are encoded
    n2 = lineage.encode_with_resume(spark, corpus, store, rows_per_bucket=64)
    new = {r["chunk_id"] for r in store.committed_chunk_ids().collect()} - committed
    assert new and all(c.startswith("web#") for c in new)

    # third run: nothing left to do
    n3 = lineage.encode_with_resume(spark, corpus, store, rows_per_bucket=64)
    assert n3 == 0

    # and the store decodes back to the exact corpus
    decoded = decode_job.decode_chunks(store.read_chunks())
    assert decoded.count() == N_ROWS
    orig = _as_map(corpus)
    out = _as_map(decoded)
    assert orig == out


def test_distributed_datagen_matches_contract(spark):
    df = datagen.generate_spark(spark, 100, seed=7)
    pdf = df.toPandas()
    assert len(pdf) == 100
    assert set(pdf["source"]).issubset(set(datagen.SOURCES))
    assert (pdf["n_tok"] == pdf["tokens"].map(len)).all()
    assert pdf["doc_id"].is_unique


def test_extreme_skew_bucket_sizes_bounded(spark):
    """A 95%-one-source corpus must still produce buckets bounded by
    ~2x rows_per_bucket (salting defuses the hot key; executor memory is
    flat at any skew)."""
    import pandas as pd
    from pyspark.sql import functions as F

    n = 4000
    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i:06d}" for i in range(n)],
            "tokens": [[i % 7, i % 13] for i in range(n)],
            "n_tok": [2] * n,
            "source": ["viral" if i % 20 != 0 else f"s{i % 5}" for i in range(n)],
        }
    )
    df = spark.createDataFrame(pdf)
    b = skew.plan_buckets(df, rows_per_bucket=128)
    sizes = b.groupBy("chunk_id").count().toPandas()["count"]
    assert sizes.max() <= 2 * 128  # hashing variance bound, not 3800
    viral_buckets = (
        b.where(F.col("source") == "viral").select("chunk_id").distinct().count()
    )
    assert viral_buckets >= 3800 // 128  # hot key actually split


def test_decode_tokens_agg_matches_explode_aggregate(spark, corpus):
    """The fused decode+aggregate (r8 optimization: aggregate computed inside
    the decode task, no exploded-token exchange) must equal the classic
    posexplode + groupBy aggregate exactly — including the empty-doc rule
    (posexplode of an empty array emits nothing)."""
    with_empty = corpus.union(
        spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": ["emptydoc"],
                    "tokens": [[]],
                    "n_tok": np.array([0], dtype=np.int32),
                    "source": ["web"],
                }
            ),
            corpus.schema,
        )
    )
    chunks = encode_job.encode_table(with_empty, rows_per_bucket=64)
    classic = (
        decode_job.decode_chunks(chunks)
        .select("doc_id", F.posexplode("tokens").alias("pos", "tok"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tok"),
            F.sum(F.col("tok").cast("long")).alias("tok_sum"),
            F.min("tok").cast("long").alias("tok_min"),
            F.max("tok").cast("long").alias("tok_max"),
            F.sum((F.col("pos") + 1) * F.col("tok").cast("long")).alias(
                "tok_wsum"
            ),
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    fused = (
        decode_job.decode_tokens_agg(chunks)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(classic, fused)
    assert "emptydoc" not in set(fused["doc_id"])


def test_decode_tokens_agg_colocated_matches_shuffled(spark, corpus):
    """colocated=True (no chunk-gathering exchange; valid on the direct
    output of encode_table) must return exactly the shuffled path's rows."""
    chunks = encode_job.encode_table(corpus, rows_per_bucket=64)
    shuffled = (
        decode_job.decode_tokens_agg(chunks)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    colocated = (
        decode_job.decode_tokens_agg(chunks, colocated=True)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(shuffled, colocated)


def test_decode_tokens_agg_colocated_rejects_repartitioned(spark, corpus):
    """colocated=True over chunk rows scattered across partitions fails
    with an error naming the broken precondition, not a bare KeyError."""
    chunks = encode_job.encode_table(corpus, rows_per_bucket=64).repartition(4)
    with pytest.raises(Exception, match="not co-located; call with colocated=False"):
        decode_job.decode_tokens_agg(chunks, colocated=True).collect()
