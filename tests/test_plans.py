"""Physical-plan audits: pin the scale-critical plan shapes so a regression
(an extra shuffle, a lost broadcast, Python sneaking into a hot path) fails
CI — the ".explain and iterate" loop, frozen as asserts.
"""

import re

import pytest
from pyspark.sql import functions as F

from engine import datagen, skew
from engine.jobs import decode as decode_job
from engine.jobs import encode as encode_job


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_encode_has_exactly_one_exchange(spark):
    """The encode job is ONE shuffle (bucket co-location); the bucket-count
    aggregation rides a broadcast join, not a second data shuffle."""
    df = datagen.generate_spark(spark, 400)
    chunks = encode_job.encode_table(df, rows_per_bucket=64)
    plan = _plan(chunks)
    # exchanges over the DATA: hashpartitioning on chunk_id only; the tiny
    # per-source count aggregate may exchange, but never the row stream
    data_exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning(chunk_id" in ln
    ]
    assert len(data_exchanges) == 1, plan
    assert "BroadcastExchange" in plan  # bucket plan joins broadcast
    assert "SortMergeJoin" not in plan


def test_encode_resume_antijoin_is_broadcast(spark):
    df = datagen.generate_spark(spark, 200)
    skip = spark.createDataFrame([("web#0000000000",)], "chunk_id string")
    chunks = encode_job.encode_table(df, rows_per_bucket=64, skip_chunk_ids=skip)
    plan = _plan(chunks)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_pruned_decode_semi_join_is_broadcast(spark):
    df = datagen.generate_spark(spark, 200)
    chunks = encode_job.encode_table(df, rows_per_bucket=64).persist()
    pruned = decode_job.decode_chunks_pruned(chunks, "tokens", 0, 10)
    plan = _plan(pruned)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    chunks.unpersist()


def test_filtered_scan_semi_join_is_broadcast(spark):
    """decode_table_filtered keeps the pruned-decode plan shape: the
    surviving-chunk semi-join broadcasts (never a shuffle of payload
    rows against a chunk-id list), no cartesian product anywhere, and
    the CNF residual stays a plain Filter."""
    import numpy as np
    import pandas as pd

    pdf = pd.DataFrame({
        "id": np.arange(300, dtype=np.int64),
        "score": np.arange(300, dtype=np.float64),
    })
    df = spark.createDataFrame(pdf)
    cols = encode_job.derive_columns(df)
    chunks = encode_job.encode_table(
        df, columns=cols, rows_per_bucket=128,
        bucket_key="id", salt_col="id",
    ).persist()
    out = decode_job.decode_table_filtered(
        chunks, cols,
        [[("id", "<", 10), ("score", ">=", 250.0)], ("id", "notnull", None)],
    )
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Filter" in plan, plan
    chunks.unpersist()


def test_tpch_q3_broadcasts_customer(spark):
    import __spark_entry__ as entry

    out = entry._q_tpch_q3(spark, "/root/testdata/sf0.001")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_textstats_whole_stage_codegen_no_python(spark):
    from engine.ops import textstats

    docs = spark.createDataFrame(
        [(1, "some text here"), (2, "more words in this text")],
        "doc_id long, text string",
    )
    for op in (
        textstats.token_count,
        textstats.quality_score,
        textstats.language_id,
        textstats.all_stats,  # the merged single-scan projection (r6)
    ):
        plan = _plan(op(docs))
        assert "EvalPython" not in plan and "InPandas" not in plan, (op, plan)
        # codegen stages print as "WholeStageCodegen" or the compact "*(n)"
        assert "WholeStageCodegen" in plan or "*(" in plan, plan


def test_ivf_assign_flat_plan_at_k256(spark):
    """IVF assignment must stay one scan + one ArrowEvalPython projection
    whose plan size does NOT grow with the centroid count (the old
    expression-tree version folded k x dim literals into nested CASE WHENs —
    Catalyst-hostile at the k≈10^3 cells a 100 TB IVF needs). Also checks
    exact argmin equivalence against numpy at k=256. The sf0.01 recall gate
    (knn_ivf) keeps k=8: 256 cells over 500 vectors is a degenerate
    quantizer, so scale-k is validated here by equivalence instead."""
    import numpy as np

    from engine.ops import simsearch

    rng = np.random.default_rng(7)
    k, dim, n = 256, 32, 400
    cents = rng.standard_normal((k, dim))
    X = rng.standard_normal((n, dim))
    pdf = [(int(i), [float(v) for v in X[i]]) for i in range(n)]
    df = spark.createDataFrame(pdf, "vec_id long, embedding array<double>")
    out = simsearch.ivf_assign(df, cents)
    plan = _plan(out)
    assert plan.count("Scan") == 1 or "Scan ExistingRDD" in plan, plan
    # no k-deep literal expression tree: plan stays small and CASE-free
    assert "CASE WHEN" not in plan, plan
    assert len(plan) < 4000, (len(plan), plan[:500])
    got = out.select("vec_id", "ivf_cell").toPandas().set_index("vec_id")[
        "ivf_cell"
    ]
    want = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    assert (got.sort_index().to_numpy() == want).all()


def test_decode_table_projection_pushes_column_filter(spark, tmp_path):
    """decode_table(select=...) over a chunk store pushes the column filter
    into the parquet scan, so unrequested columns' payload bytes never leave
    storage."""
    from engine import lineage
    from engine.jobs import encode as encode_job

    ev = spark.range(0, 200).select(
        F.col("id").alias("event_id"),
        F.lit("g").alias("grp"),
        (F.col("id") / 3).cast("double").alias("a"),
        F.concat(F.lit("t"), F.col("id")).alias("b"),
    )
    cols = encode_job.derive_columns(ev)
    store = lineage.ChunkStore(spark, str(tmp_path / "s"))
    store.commit(
        encode_job.encode_table(
            ev, columns=cols, rows_per_bucket=64,
            bucket_key="grp", salt_col="event_id", sort_col="event_id",
        )
    )
    out = decode_job.decode_table(store.read_chunks(), cols, select=["a"])
    plan = _plan(out)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "column" in m.group(1), plan
    assert out.count() == 200


def test_chunk_store_scan_pushes_filters(spark, tmp_path):
    """Catalyst pushes the column filter into the parquet scan of the chunk
    store, so a projected decode never reads other columns' payload bytes."""
    from engine import lineage

    df = datagen.generate_spark(spark, 200)
    store = lineage.ChunkStore(spark, str(tmp_path / "s"))
    lineage.encode_with_resume(spark, df, store, rows_per_bucket=64)
    scan = store.read_chunks().where(F.col("column") == "n_tok")
    plan = _plan(scan)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "column" in m.group(1), plan


def test_generic_table_paths_are_arrow_native(spark):
    """NULLs and NaNs cross the Python boundary as Arrow validity, so the
    generic encode projects no validity companions, the generic decode is
    one grouped Arrow UDF with no JVM-side rebuild, and the token histogram
    maps Arrow batches — no pandas UDF in any of them."""
    df = spark.range(0, 200).select(
        F.col("id").alias("event_id"),
        F.lit("g").alias("grp"),
        F.when(F.col("id") % 3 != 0, F.col("id") + 2**60).alias("big"),
        F.when(F.col("id") % 4 == 0, F.lit(float("nan")))
        .when(F.col("id") % 5 != 0, F.col("id").cast("double"))
        .alias("x"),
        F.array(F.col("id").cast("double"), F.lit(None).cast("double")).alias("xs"),
    )
    cols = encode_job.derive_columns(df)
    chunks = encode_job.encode_table(
        df, columns=cols, rows_per_bucket=64,
        bucket_key="grp", salt_col="event_id", sort_col="event_id",
    )
    enc = _plan(chunks)
    assert "__valid" not in enc and "__evalid" not in enc, enc
    dec = _plan(decode_job.decode_table(chunks, cols))
    assert "FlatMapGroupsInArrow" in dec, dec
    assert "FlatMapGroupsInPandas" not in dec and "zip_with" not in dec, dec
    hist = _plan(decode_job.token_histogram(chunks, column="event_id"))
    assert "MapInArrow" in hist and "Pandas" not in hist, hist


def test_foreign_parquet_read_is_arrow_native(spark, tmp_path):
    """The distributed foreign-parquet read (plain and predicate-pruned
    with prune_stats) maps Arrow batches, and every batch a unit yields
    — multi-row-group, with flat, string and nested list columns — has
    exactly the Arrow schema Spark declares for the DataFrame."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from engine import parquet_compat as pc

    n = 400
    rows = [None if i % 7 == 0 else [[i, None], []][: i % 3] for i in range(n)]
    path = str(tmp_path / "lists.parquet")
    pq.write_table(
        pa.table({
            "id": pa.array(range(n), pa.int64()),
            "f": pa.array([i / 4 if i % 5 else None for i in range(n)],
                          pa.float32()),
            "s": pa.array([f"v{i % 9}" for i in range(n)]),
            "xss": pa.array(rows, pa.list_(pa.list_(pa.int32()))),
        }),
        path, row_group_size=100, write_page_index=True,
    )
    n_rg = pq.ParquetFile(path).num_row_groups
    assert n_rg == 4
    for predicate, prune_stats in ((None, False), (("id", ">=", 150), True)):
        df = pc.read_parquet_with_engine(
            spark, path, predicate=predicate, prune_stats=prune_stats,
            target_split_bytes=1,
        )
        plan = _plan(df)
        assert "MapInArrow" in plan and "MapInPandas" not in plan, plan
        want = to_arrow_schema(df.schema)
        names = ["id", "f", "s", "xss.list.element.list.element"]
        for rg in range(n_rg):
            batch = pc._unit_batch(path, rg, names, predicate, prune_stats)
            assert batch.schema == want, (batch.schema, want)
        got = sorted(
            (r["id"], r["xss.list.element.list.element"]) for r in df.collect()
        )
        lo = 0 if predicate is None else 150
        assert got == [(i, rows[i]) for i in range(lo, n)]
