"""Driver contract for the spark-graft builder (PySpark target).

Every encode/decode operator from SURVEY.md §2 is validated end-to-end: the
Spark side derives a token table from the driver's parquet tables, encodes it
with the codec under test, decodes it back, and aggregates over the decoded
values; the DuckDB oracle computes the same aggregates from the raw tables.
A bit-identical round trip (the reference's encoding-test invariant,
src/encodings/encoding.rs:1179-1265) is exactly what makes the hashes match.
"""

from __future__ import annotations

import os
import sys
import uuid as _uuid
from collections.abc import Callable

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

SF0001 = "/root/testdata/sf0.001"


def _engine(spark: SparkSession):
    from engine.session import ship_package

    ship_package(spark)
    from engine.jobs import decode as decode_job
    from engine.jobs import encode as encode_job

    return encode_job, decode_job


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Scale-adaptive scan-parallelism floor (guide §2.5 input skew): a
    parquet SPLIT cannot start mid-row-group, so a single-file table with
    one big row group scans as ONE task and serializes any compute-heavy,
    shuffle-free stage-1 on an otherwise idle cluster. Round-robin
    repartition to the cluster's default parallelism ONLY when the scan's
    natural split count is below it — on real corpora (many files / many
    row groups) the condition is false and no exchange is added. Only
    applied where the stage-1 compute measurably dominates the exchange
    cost (textstats expression tree, knn interpreted cosine folds); the
    encode-side queries already parallelize through their bucket
    exchange and measured SLOWER with an extra spread."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# --------------------------------------------------------------------------
# round-trip queries: derive tokens -> encode(codec) -> decode -> aggregate
# --------------------------------------------------------------------------


def _seq_from_lineitem(spark, sf_dir, tok_expr: str) -> DataFrame:
    """tokenized_sequences derived from lineitem: doc = order, tokens =
    sort_array of an integer expression (sorted so the rank-by-value oracle
    is order-stable under ties)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("l_orderkey"), F.expr(tok_expr).cast("int").alias("tok"))
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_list("tok")).alias("tokens"))
        .select(
            F.col("l_orderkey").cast("string").alias("doc_id"),
            "tokens",
            F.size("tokens").cast("int").alias("n_tok"),
            F.lit("lineitem").alias("source"),
        )
    )


def _seq_transform(docs: DataFrame) -> DataFrame:
    """documents -> tokenized_sequences: tokens = sorted word lengths of
    text (realistic skewed small ints; exercises the auto-selector).
    Shared by the batch derivation and the streaming gate so the two can
    never diverge from the oracle SQL."""
    toks = F.sort_array(
        F.transform(F.split(F.col("text"), " "), lambda w: F.length(w).cast("int"))
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        toks.alias("tokens"),
        F.size(toks).cast("int").alias("n_tok"),
        F.col("source"),
    )


def _seq_tok_sum_select(df: DataFrame) -> DataFrame:
    """(doc_id, n_tok, source, tok_sum) projection of a decoded sequence
    table — the shared output shape of the full-decode gates (cli_read,
    stream_encode, snapshot_commits), all checked by _ORACLE_SEQ_FULL."""
    return df.select(
        "doc_id",
        F.col("n_tok").cast("long"),
        "source",
        F.aggregate(
            "tokens", F.lit(0).cast("long"), lambda a, v: a + v.cast("long")
        ).alias("tok_sum"),
    )


def _seq_from_documents(spark, sf_dir) -> DataFrame:
    return _seq_transform(_read(spark, sf_dir, "documents"))


def _roundtrip_agg(spark, seq_df: DataFrame, token_codec: str | None) -> DataFrame:
    """Encode -> decode -> per-doc aggregate over the decoded tokens. The
    aggregate (count, sum, min, max, position-weighted sum with positions
    ranked by ascending token) is computed inside the decode task
    (decode_tokens_agg) — equivalent to posexplode + groupBy(doc_id), which
    the r8 optimization round removed because every doc lives in exactly one
    chunk, so the exploded-token exchange shuffled 100% of the corpus for an
    aggregate that was already computable where the tokens decode."""
    encode_job, decode_job = _engine(spark)
    cols = dict(encode_job.DEFAULT_COLUMNS)
    cols["tokens"] = ("int32_list", token_codec)
    # the derived sequence table has exactly two consumers inside
    # encode_table (the bucket-count aggregation and the encode shuffle);
    # persisting the intermediate computes the groupBy+collect_list
    # derivation ONCE per invocation instead of twice (guide §5: reused
    # AND expensive to recompute — measured 6.1s -> 4.0s at sf1, neutral
    # at sf0.1). It is an in-query intermediate, never a cross-process
    # cache. Lifetime: CacheManager entries are PLAN-KEYED and pinned
    # until unpersist (driver GC does not reclaim them), so repeated
    # invocations over the same input share ONE entry — the session's
    # cache grows only with the number of DISTINCT (sf_dir, expression)
    # round-trips, the same lifetime contract minhash_lsh_pairs has
    # carried since r2 (an eager unpersist-previous policy was measured
    # 2x SLOWER by destroying exactly that plan-keyed reuse).
    chunks = encode_job.encode_table(
        seq_df.persist(), columns=cols, rows_per_bucket=8192
    )
    # colocated: chunks flow STRAIGHT from encode_table, whose encoder
    # emits each bucket's rows as one contiguous batch — decode+aggregate
    # pipelines into the same stage instead of re-shuffling tiny chunk rows
    return decode_job.decode_tokens_agg(chunks, colocated=True)




_RT_ORACLE_LINEITEM = """
SELECT CAST(l_orderkey AS VARCHAR) AS doc_id,
       COUNT(*) AS n_tok,
       CAST(SUM(CAST(tok AS BIGINT)) AS BIGINT) AS tok_sum,
       CAST(MIN(tok) AS BIGINT) AS tok_min,
       CAST(MAX(tok) AS BIGINT) AS tok_max,
       CAST(SUM(CAST(tok AS BIGINT) * rnk) AS BIGINT) AS tok_wsum
FROM (
  SELECT l_orderkey, tok,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY tok) AS rnk
  FROM (SELECT l_orderkey, CAST({expr} AS INTEGER) AS tok FROM lineitem)
)
GROUP BY l_orderkey
"""

_RT_ORACLE_DOCUMENTS = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       COUNT(*) AS n_tok,
       CAST(SUM(CAST(tok AS BIGINT)) AS BIGINT) AS tok_sum,
       CAST(MIN(tok) AS BIGINT) AS tok_min,
       CAST(MAX(tok) AS BIGINT) AS tok_max,
       CAST(SUM(CAST(tok AS BIGINT) * rnk) AS BIGINT) AS tok_wsum
FROM (
  SELECT doc_id, tok,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tok) AS rnk
  FROM (SELECT doc_id, UNNEST(list_transform(string_split(text, ' '),
                                             w -> length(w))) AS tok
        FROM documents)
)
GROUP BY doc_id
"""

# (codec under test, integer token expression valid in BOTH Spark and DuckDB)
_RT_CASES = {
    "rt_delta_sorted_partkeys": ("delta", "l_partkey"),
    "rt_dict_lowcard": ("dict", "l_partkey % 100"),
    "rt_rle_linenumbers": ("rle", "l_linenumber"),
}

# merged into ONE gate (round 7, freeing a slot for page_pruned_read):
# both codecs still round-trip in full, distinguished by a codec column
_RT_MERGED_CASES = {
    "bitpack": "l_partkey % 4096 + 1000",
    "plain": "(l_partkey * 1103515245 + l_suppkey * 12345) % 2147483647",
}


def _q_rt_bitpack_plain(spark, sf_dir) -> DataFrame:
    """Union of the bitpack and plain round-trip gates (same per-doc
    aggregate contract as every rt_* gate, tagged by codec)."""
    import functools

    dfs = [
        _roundtrip_agg(
            spark, _seq_from_lineitem(spark, sf_dir, expr), codec
        ).withColumn("codec", F.lit(codec))
        for codec, expr in _RT_MERGED_CASES.items()
    ]
    return functools.reduce(lambda a, b: a.unionAll(b), dfs)


_ORACLE_RT_BITPACK_PLAIN = " UNION ALL ".join(
    "SELECT *, '{codec}' AS codec FROM ({q})".format(
        codec=codec, q=_RT_ORACLE_LINEITEM.format(expr=expr)
    )
    for codec, expr in sorted(_RT_MERGED_CASES.items())
)


# --------------------------------------------------------------------------
# golden-byte queries: encoded bytes pinned against reference fixtures
# --------------------------------------------------------------------------


def _golden_df(spark, name: str) -> DataFrame:
    import numpy as np

    from engine.codecs import delta_for, rle

    if name == "golden_rle_two_runs":
        vals = np.concatenate([np.zeros(50, np.uint64), np.ones(50, np.uint64)])
        hexval = rle.encode(vals, 1).hex()
    elif name == "golden_rle_alternating":
        hexval = rle.encode((np.arange(100, dtype=np.uint64)) % 2, 1).hex()
    elif name == "golden_delta_header":
        hexval = delta_for.encode(np.array([7, 8, 9, 10], np.int32), "int32").hex()
    else:
        raise KeyError(name)
    return spark.createDataFrame([(name, hexval)], "case string, encoded_hex string")


_GOLDEN_HEX = {
    # 50x0,50x1 at width 1 -> [0x64,0x00,0x64,0x01] (src/encodings/rle.rs:667-692)
    "golden_rle_two_runs": "64006401",
    # 100 alternating at width 1 -> [0x1B, 0xAA*12, 0x0A] (src/encodings/rle.rs:694-721)
    "golden_rle_alternating": "1b" + "aa" * 12 + "0a",
    # uleb(128) uleb(4) uleb(4) zigzag(7) zigzag(1) widths 0,0,0,0
    # (src/encodings/encoding.rs:511-533)
    "golden_delta_header": "800104040e0200000000",
}


# --------------------------------------------------------------------------
# chunk planning / lineage metrics vs SQL
# --------------------------------------------------------------------------


def _q_chunk_plan(spark, sf_dir) -> DataFrame:
    """Salted bucket plan on the documents corpus: chunks per source must
    equal ceil(rows/128) — validates the skew-defusing planner."""
    from engine import skew

    _engine(spark)
    seq = _seq_from_documents(spark, sf_dir)
    b = skew.plan_buckets(seq, rows_per_bucket=128)
    return (
        b.groupBy("source")
        .agg(F.countDistinct("chunk_id").cast("long").alias("n_chunks"))
    )


_ORACLE_CHUNK_PLAN = """
SELECT source, CAST(CEIL(COUNT(*) / 128.0) AS BIGINT) AS n_chunks
FROM documents GROUP BY source
"""


def _q_chunk_metrics(spark, sf_dir) -> DataFrame:
    """Lineage rows of an encode run: per-source total token count carried in
    chunk metadata must equal the raw corpus totals."""
    encode_job, _ = _engine(spark)
    seq = _seq_from_documents(spark, sf_dir)
    chunks = encode_job.encode_table(seq, rows_per_bucket=128)
    return (
        chunks.where(F.col("column") == "tokens")
        .withColumn("source", F.col("bucket_key"))
        .groupBy("source")
        .agg(
            F.sum("n_values").cast("long").alias("total_tokens"),
            F.sum("n_docs").cast("long").alias("total_docs"),
        )
    )


_ORACLE_CHUNK_METRICS = """
SELECT source,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
       COUNT(*) AS total_docs
FROM documents GROUP BY source
"""


def _q_rt_events_table(spark, sf_dir) -> DataFrame:
    """Generic-table path: encode the events table (longs, timestamps as
    micros, strings, doubles) with event_type buckets, decode generically,
    re-aggregate — proves the engine encodes arbitrary tables, not just the
    tokenized corpus."""
    encode_job, decode_job = _engine(spark)
    ev = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("long"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("user_id").cast("long"),
        "event_type",
        F.col("value").cast("double"),
    )
    cols = encode_job.derive_columns(ev)
    chunks = encode_job.encode_table(
        ev, columns=cols, rows_per_bucket=2048,
        bucket_key="event_type", salt_col="event_id", sort_col="event_id",
    )
    dec = decode_job.decode_table(chunks, cols)
    # sum of FULL microsecond timestamps overflows int64 past ~5k rows per
    # group (1.7e15 each, ANSI mode throws at sf0.1) — sum the value mod 1e9
    # instead (still corruption-sensitive) and pin the full range via min/max
    return dec.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("event_id").cast("long").alias("sum_id"),
        F.sum("user_id").cast("long").alias("sum_user"),
        F.sum(F.pmod(F.col("ts_us"), F.lit(1_000_000_000)))
        .cast("long")
        .alias("sum_ts_mod"),
        F.min("ts_us").cast("long").alias("min_ts"),
        F.max("ts_us").cast("long").alias("max_ts"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


_ORACLE_RT_EVENTS = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(event_id) AS BIGINT) AS sum_id,
       CAST(SUM(user_id) AS BIGINT) AS sum_user,
       CAST(SUM(epoch_us(ts) % 1000000000) AS BIGINT) AS sum_ts_mod,
       CAST(MIN(epoch_us(ts)) AS BIGINT) AS min_ts,
       CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts,
       ROUND(MIN(value), 6) AS min_value,
       ROUND(MAX(value), 6) AS max_value
FROM events GROUP BY event_type
"""


def _q_rt_nullable_table(spark, sf_dir) -> DataFrame:
    """Nullable generic-table path: plant NULLs into long/double/string
    columns of events, encode (def-level shredding), decode, and aggregate
    non-null counts + exact sums — proves nulls survive the job layer
    bit-faithfully (reference nullable write path src/column/writer.rs:304-322)."""
    encode_job, decode_job = _engine(spark)
    ev = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("long"),
        F.when(F.col("event_id") % 7 != 0, F.col("user_id").cast("long")).alias("user_id_n"),
        F.when(F.col("event_id") % 5 != 0, F.col("value").cast("double")).alias("value_n"),
        F.when(F.col("event_id") % 3 != 0, F.col("event_type")).alias("etype_n"),
        "event_type",
    )
    cols = encode_job.derive_columns(ev)
    chunks = encode_job.encode_table(
        ev, columns=cols, rows_per_bucket=2048,
        bucket_key="event_type", salt_col="event_id", sort_col="event_id",
    )
    dec = decode_job.decode_table(chunks, cols)
    return dec.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.count("user_id_n").cast("long").alias("nn_user"),
        F.sum("user_id_n").cast("long").alias("sum_user"),
        F.count("value_n").cast("long").alias("nn_value"),
        F.round(F.min("value_n"), 6).alias("min_value"),
        F.round(F.max("value_n"), 6).alias("max_value"),
        F.count("etype_n").cast("long").alias("nn_etype"),
        F.min("etype_n").alias("min_etype"),
    )


_ORACLE_RT_NULLABLE = """
WITH planted AS (
  SELECT event_id,
         CASE WHEN event_id % 7 != 0 THEN user_id END AS user_id_n,
         CASE WHEN event_id % 5 != 0 THEN value END AS value_n,
         CASE WHEN event_id % 3 != 0 THEN event_type END AS etype_n,
         event_type
  FROM events
)
SELECT event_type,
       COUNT(*) AS n,
       COUNT(user_id_n) AS nn_user,
       CAST(SUM(user_id_n) AS BIGINT) AS sum_user,
       COUNT(value_n) AS nn_value,
       ROUND(MIN(value_n), 6) AS min_value,
       ROUND(MAX(value_n), 6) AS max_value,
       COUNT(etype_n) AS nn_etype,
       MIN(etype_n) AS min_etype
FROM planted GROUP BY event_type
"""


def _q_rt_nan_floats(spark, sf_dir) -> DataFrame:
    """NaN fidelity: plant BOTH NaN and NULL into a double column and a
    double-list column, round-trip through the engine, and report
    null/NaN/finite per row. NULL travels as Arrow validity and NaN as a
    value in both directions, so NaN stays a VALUE (the reference keeps
    NaN distinct from null with explicit NaN statistics rules,
    src/basic.rs:331-336)."""
    encode_job, decode_job = _engine(spark)
    nan = F.lit(float("nan")).cast("double")
    ev = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("long"),
        "event_type",
        # % 5 == 0 -> NaN, % 5 == 1 -> NULL, else finite
        F.when(F.col("event_id") % 5 == 0, nan)
        .when(F.col("event_id") % 5 != 1, F.col("value").cast("double"))
        .alias("v"),
        F.array(
            F.when(F.col("event_id") % 3 == 0, nan).otherwise(
                F.col("value").cast("double")
            ),
            F.when(
                F.col("event_id") % 4 != 0, (F.col("value") / 7).cast("double")
            ),
        ).alias("xs"),
    )
    cols = encode_job.derive_columns(ev)
    chunks = encode_job.encode_table(
        ev, columns=cols, rows_per_bucket=2048,
        bucket_key="event_type", salt_col="event_id", sort_col="event_id",
    )
    dec = decode_job.decode_table(chunks, cols)
    return dec.select(
        "event_id",
        F.col("v").isNull().alias("v_null"),
        F.coalesce(F.isnan("v"), F.lit(False)).alias("v_nan"),
        F.round(
            F.when(F.col("v").isNotNull() & ~F.isnan("v"), F.col("v")), 6
        ).alias("v_fin"),
        F.size(F.filter("xs", lambda x: x.isNull())).cast("long").alias("xs_nulls"),
        F.size(F.filter("xs", lambda x: x.isNotNull() & F.isnan(x)))
        .cast("long")
        .alias("xs_nans"),
        F.round(
            F.aggregate(
                "xs",
                F.lit(0.0).cast("double"),
                lambda a, x: a
                + F.when(x.isNotNull() & ~F.isnan(x), x).otherwise(F.lit(0.0)),
            ),
            6,
        ).alias("xs_fin_sum"),
    )


_ORACLE_RT_NAN_FLOATS = """
WITH planted AS (
  SELECT event_id,
         CASE WHEN event_id % 5 = 0 THEN 'NaN'::DOUBLE
              WHEN event_id % 5 != 1 THEN CAST(value AS DOUBLE) END AS v,
         [CASE WHEN event_id % 3 = 0 THEN 'NaN'::DOUBLE
               ELSE CAST(value AS DOUBLE) END,
          CASE WHEN event_id % 4 != 0 THEN CAST(value AS DOUBLE) / 7 END] AS xs
  FROM events
)
SELECT event_id,
       v IS NULL AS v_null,
       COALESCE(isnan(v), false) AS v_nan,
       ROUND(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN v END, 6) AS v_fin,
       CAST(len(list_filter(xs, x -> x IS NULL)) AS BIGINT) AS xs_nulls,
       CAST(len(list_filter(xs, x -> x IS NOT NULL AND isnan(x)))
            AS BIGINT) AS xs_nans,
       ROUND(list_sum(list_transform(xs,
             x -> CASE WHEN x IS NOT NULL AND NOT isnan(x)
                       THEN x ELSE 0.0 END)), 6) AS xs_fin_sum
FROM planted
"""


def _q_rt_bool_compressed(spark, sf_dir) -> DataFrame:
    """BOOLEAN RLE value encoding + gzip block compression + WriterProperties,
    oracle-gated end to end (the three pytest-only rows of VERDICT r2: the
    rle_bool codec, §2.2 block codecs, and the properties layer). The query
    asserts the run-structured bool column auto-selected ``rle_bool``
    (reference RleValueEncoder, src/encodings/encoding.rs:422-501) and that
    at least the compressible string column's frames carry FLAG_COMPRESSED
    (reference page compression, src/file/writer.rs:443-466) — then decodes
    through gzip and re-aggregates."""
    encode_job, decode_job = _engine(spark)
    from engine.properties import WriterProperties

    ev = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("long"),
        "event_type",
        # ONE run boundary at any scale: buckets hold a hash-subsample of
        # event_ids SORTED ascending, so a threshold flag yields <= 2 runs
        # per chunk regardless of bucket count — a modulo flag's run length
        # shrinks with bucket_n and flips the selector at larger sf
        (F.col("event_id") < 5000).alias("flag"),
        F.when(F.col("event_id") % 3 != 0, F.col("event_id") % 2 == 0).alias(
            "flag_n"
        ),
        # deliberately compressible: near-constant 200+ chars -> tiny gzip
        F.concat(F.lit("x" * 200), F.col("event_type")).alias("tag"),
    )
    cols = encode_job.derive_columns(ev)
    props = WriterProperties(rows_per_bucket=2048, compression="gzip")
    chunks = encode_job.encode_table(
        ev, columns=cols, props=props,
        bucket_key="event_type", salt_col="event_id", sort_col="event_id",
    ).persist()
    dec = decode_job.decode_table(chunks, cols)
    agg = dec.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("flag").cast("long")).alias("n_true"),
        F.count("flag_n").cast("long").alias("nn"),
        F.sum(F.col("flag_n").cast("long")).alias("n_true_n"),
        F.sum(F.length("tag").cast("long")).alias("tag_len"),
    )
    # frame byte 8 is the flags field; bit 2 = FLAG_COMPRESSED
    flags_bit = (
        F.conv(F.hex(F.substring(F.col("payload"), 8, 1)), 16, 10)
        .cast("int")
        .bitwiseAND(F.lit(2))
    )
    audit = chunks.agg(
        F.array_join(
            F.sort_array(
                F.collect_set(F.when(F.col("column") == "flag", F.col("codec")))
            ),
            ",",
        ).alias("flag_codec"),
        F.min(F.when(F.col("column") == "tag", flags_bit)).cast("long").alias(
            "tag_compressed"
        ),
    )
    return agg.crossJoin(audit)


_ORACLE_RT_BOOL_COMPRESSED = """
WITH planted AS (
  SELECT event_id,
         event_type,
         (event_id < 5000) AS flag,
         CASE WHEN event_id % 3 != 0 THEN event_id % 2 = 0 END AS flag_n,
         concat(repeat('x', 200), event_type) AS tag
  FROM events
)
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       COUNT(flag_n) AS nn,
       CAST(SUM(CASE WHEN flag_n THEN 1 ELSE 0 END) AS BIGINT) AS n_true_n,
       CAST(SUM(length(tag)) AS BIGINT) AS tag_len,
       'rle_bool' AS flag_codec,
       CAST(2 AS BIGINT) AS tag_compressed
FROM planted GROUP BY event_type
"""


def _lookup_store(spark, sf_dir):
    """Shared deterministic per-sf_dir ChunkStore over the documents-derived
    token table (used by point_lookup and the CLI gate): repeated
    invocations reuse the encoded store (resume anti-joins committed chunks
    and writes nothing) instead of leaking one full store per call."""
    import hashlib
    import tempfile

    _engine(spark)
    from engine import chunk as chunk_mod, lineage

    seq = _seq_from_documents(spark, sf_dir)
    # the tag carries the chunk frame VERSION + the encode knobs: a format
    # or layout change between rounds must invalidate the cached store, or
    # encode_with_resume would skip re-encoding and the new decoder would
    # read a stale-format store (ADVICE r3). Knobs are interpolated from
    # the SAME variables passed below so they cannot silently drift.
    rpb = 128
    bloom_columns = ["doc_id"]
    tag = hashlib.md5(
        f"{sf_dir}|v{chunk_mod.VERSION}|rpb{rpb}|bloom:{','.join(bloom_columns)}".encode()
    ).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), f"sg_lookup_{tag}")
    store = lineage.ChunkStore(spark, d)
    lineage.encode_with_resume(
        spark, seq, store, rows_per_bucket=rpb, bloom_columns=bloom_columns
    )
    return store


def _q_point_lookup(spark, sf_dir) -> DataFrame:
    """Bloom-pruned point lookup through a ChunkStore: encode the documents
    corpus with ``bloom_columns=['doc_id']``, look up present + absent keys,
    return the decoded rows. Absent keys drop every candidate chunk BEFORE
    payload decode (parquet column-chunk bloom analog; the reference carries
    only min/max Statistics, src/file/statistics.rs:246-440)."""
    from engine import lineage

    store = _lookup_store(spark, sf_dir)
    ids = ["3", "77", "141", "absent-a", "absent-b"]
    return _seq_tok_sum_select(lineage.lookup_docs(store, ids))


_ORACLE_POINT_LOOKUP = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       source,
       CAST(list_sum(list_transform(string_split(text, ' '),
                                    w -> length(w))) AS BIGINT) AS tok_sum
FROM documents WHERE doc_id IN (3, 77, 141)
"""


def _q_cli_read(spark, sf_dir) -> DataFrame:
    """Gate for the debug CLI (reference parquet-read,
    src/bin/parquet-read.rs:30-94): ``engine.cli read`` prints
    ``read_df(store)`` — this query hashes that exact DataFrame (full
    decode of the shared lookup store) instead of its printed form, so the
    CLI's decode path is oracle-checked, not just pytest-smoke-checked
    (VERDICT r3 #8)."""
    from engine import cli

    store = _lookup_store(spark, sf_dir)
    return _seq_tok_sum_select(cli.read_df(store))


# shared by cli_read / stream_encode / snapshot_commits: all three decode
# the full documents-derived sequence table through different write paths
_ORACLE_SEQ_FULL = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       source,
       CAST(list_sum(list_transform(string_split(text, ' '),
                                    w -> length(w))) AS BIGINT) AS tok_sum
FROM documents
"""
_ORACLE_CLI_READ = _ORACLE_SEQ_FULL


def _q_stream_encode(spark, sf_dir) -> DataFrame:
    """Streaming ENCODE gate (r4): the documents corpus replays through
    readStream (availableNow) -> encode_stream (foreachBatch routes every
    micro-batch through the SAME bucket plan + exactly-once lineage commit
    as batch encode, chunk ids scoped by batch) -> the resulting store is
    decoded batch-side and hashed per document against the raw-SQL oracle.
    Repeated invocations are resume no-ops (committed chunks skipped), so
    the store is deterministic per sf_dir + chunk-format version."""
    import hashlib
    import shutil
    import tempfile

    _engine(spark)
    from engine import chunk as chunk_mod, lineage, streaming
    from engine.jobs import decode as decode_job

    doc_schema = _read(spark, sf_dir, "documents").schema
    rpb = 256
    tag = hashlib.md5(
        f"{sf_dir}|v{chunk_mod.VERSION}|stream_encode|rpb{rpb}".encode()
    ).hexdigest()[:10]
    base = os.path.join(tempfile.gettempdir(), f"sg_stream_enc_{tag}")
    stage = os.path.join(base, "in")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "documents.parquet")
    target = os.path.realpath(f"{sf_dir}/documents.parquet")
    if not (os.path.islink(link) and os.readlink(link) == target):
        tmp_link = f"{link}.{os.getpid()}.{_uuid.uuid4().hex[:6]}.tmp"
        os.symlink(target, tmp_link)
        os.replace(tmp_link, link)
    store = lineage.ChunkStore(spark, os.path.join(base, "store"))
    seq_stream = _seq_transform(spark.readStream.schema(doc_schema).parquet(stage))
    # fresh streaming checkpoint per invocation: the STORE is what carries
    # exactly-once semantics (resume anti-join), so replaying all batches
    # against an existing store writes 0 new chunks
    ckpt = os.path.join(base, f"ckpt-{_uuid.uuid4().hex[:8]}")
    q = streaming.encode_stream(
        seq_stream, store, ckpt, trigger={"availableNow": True},
        rows_per_bucket=rpb,
    )
    q.awaitTermination()
    shutil.rmtree(ckpt, ignore_errors=True)
    return _seq_tok_sum_select(decode_job.decode_chunks(store.read_chunks()))


_ORACLE_STREAM_ENCODE = _ORACLE_SEQ_FULL


def _q_schema_evolution(spark, sf_dir) -> DataFrame:
    """Schema-evolution gate (r4, previously pytest-only): one store, two
    commits with different schemas — even doc_ids encode WITHOUT the lang
    column, odd doc_ids encode WITH it — then ONE decode under the union
    schema must orphan-fill lang as typed NULL for the pre-evolution rows
    (parquet missing-column semantics). The oracle replays the phase split
    with a CASE on doc_id parity."""
    encode_job, decode_job = _engine(spark)

    docs = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("n_chars").cast("long").alias("n_chars"),
        "lang",
        "source",
    )
    v1 = docs.where(F.col("doc_id").cast("long") % 2 == 0).drop("lang")
    v2 = docs.where(F.col("doc_id").cast("long") % 2 == 1)
    enc = dict(rows_per_bucket=256, bucket_key="source", salt_col="doc_id",
               sort_col="doc_id")
    c1 = encode_job.encode_table(
        v1, columns=encode_job.derive_columns(v1), chunk_suffix="p1", **enc
    )
    c2 = encode_job.encode_table(
        v2, columns=encode_job.derive_columns(v2), chunk_suffix="p2", **enc
    )
    out = decode_job.decode_table(
        c1.unionByName(c2), encode_job.derive_columns(v2)
    )
    return out.select("doc_id", "n_chars", "lang", "source")


_ORACLE_SCHEMA_EVOLUTION = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       n_chars,
       CASE WHEN doc_id % 2 = 1 THEN lang END AS lang,
       source
FROM documents
"""


def _q_snapshot_commits(spark, sf_dir) -> DataFrame:
    """Iceberg-style snapshot-commit gate (r4, previously pytest-only):
    encode the corpus into a table_format='snapshot' store in TWO
    optimistic manifest commits (web sources first, the rest second), then
    decode what the LATEST published snapshot exposes — the union of both
    commits, every document exactly once (atomic publish + invisible
    staging dirs + resume anti-join all on the gated path). Fresh store
    per invocation; the result is MATERIALIZED (localCheckpoint) so the
    returned plan no longer depends on store files, and the store is
    removed before returning."""
    encode_job, decode_job = _engine(spark)
    import tempfile

    from engine import lineage

    seq = _seq_from_documents(spark, sf_dir)
    d = os.path.join(
        tempfile.gettempdir(), f"sg_snap_{_uuid.uuid4().hex[:8]}"
    )
    store = lineage.ChunkStore(spark, d, table_format="snapshot")
    web = seq.where(F.col("source").startswith("web"))
    rest = seq.where(~F.col("source").startswith("web"))
    lineage.encode_with_resume(spark, web, store, rows_per_bucket=256)
    lineage.encode_with_resume(spark, rest, store, rows_per_bucket=256)
    out = _seq_tok_sum_select(
        decode_job.decode_chunks(store.read_chunks())
    ).localCheckpoint()
    import shutil

    shutil.rmtree(d, ignore_errors=True)
    return out


_ORACLE_SNAPSHOT_COMMITS = _ORACLE_SEQ_FULL


def _q_token_histogram(spark, sf_dir) -> DataFrame:
    """Aggregation over COMPRESSED data: per-chunk flat decode + bincount,
    no record reassembly — shuffle carries (token, partial count), cost
    independent of row count."""
    encode_job, decode_job = _engine(spark)
    seq = _seq_from_documents(spark, sf_dir)
    chunks = encode_job.encode_table(seq, rows_per_bucket=128)
    return decode_job.token_histogram(chunks).select(
        F.col("token").cast("long"), F.col("n").cast("long")
    )


_ORACLE_TOKEN_HISTOGRAM = """
SELECT CAST(tok AS BIGINT) AS token, COUNT(*) AS n
FROM (SELECT UNNEST(list_transform(string_split(text, ' '),
                                   w -> length(w))) AS tok
      FROM documents)
GROUP BY tok
"""


def _q_pruned_scan(spark, sf_dir) -> DataFrame:
    """Statistics-based chunk pruning: decode only chunks whose [vmin, vmax]
    intersects the predicate range, then apply the row filter — must equal a
    full scan + filter (pruning is transparent)."""
    encode_job, decode_job = _engine(spark)
    seq = _seq_from_documents(spark, sf_dir)
    chunks = encode_job.encode_table(seq, rows_per_bucket=64)
    decoded = decode_job.decode_chunks_pruned(chunks, "tokens", 8, 1_000_000)
    ex = decoded.select("doc_id", F.explode("tokens").alias("tok"))
    return (
        ex.where(F.col("tok") >= 8)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_long"),
            F.sum(F.col("tok").cast("long")).alias("long_sum"),
        )
    )


def _q_rt_nested_table(spark, sf_dir) -> DataFrame:
    """Nested generic-table path: array<string>, nullable array<string>,
    array<int>, struct, map, array<struct> with NULL elements and
    array<array<int>> with a NULL inner array, derived from documents and
    encoded by encode_table(derive_columns(df)): each nested column is one
    tree of LIST and STRUCT containers over leaf chunks (Dremel leaves plus
    levels, reference src/column/writer.rs:304-345), rebuilt by
    decode_table (record assembly src/record/reader.rs:159-520), then
    re-aggregated."""
    encode_job, decode_job = _engine(spark)

    docs = _read(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    df = docs.select(
        F.col("doc_id").cast("long"),
        "source",
        words.alias("words"),
        F.when(F.col("doc_id") % 7 != 0, words).alias("words_n"),
        F.transform(words, lambda w: F.length(w).cast("int")).alias("lens"),
        F.struct(
            F.length("text").cast("long").alias("n_chars"),
            F.col("source").alias("src"),
        ).alias("st"),
        F.create_map(
            F.lit("len"), F.length("text").cast("long"),
            F.lit("id"), F.col("doc_id").cast("long"),
        ).alias("m"),
        # array<struct> with planted null elements (length % 5 == 4)
        F.transform(
            words,
            lambda w: F.when(
                F.length(w) % 5 != 4,
                F.struct(w.alias("w"), F.length(w).cast("long").alias("wl")),
            ),
        ).alias("ws"),
        # array<array<int>> with a planted null inner array (doc_id % 3 == 0)
        F.array(
            F.transform(words, lambda w: F.length(w).cast("int")),
            F.when(
                F.col("doc_id") % 3 != 0,
                F.slice(F.transform(words, lambda w: F.length(w).cast("int")), 1, 2),
            ),
        ).alias("aa"),
    )
    cols = encode_job.derive_columns(df)
    chunks = encode_job.encode_table(
        df, columns=cols, rows_per_bucket=128, bucket_key="source",
        salt_col="doc_id", sort_col="doc_id",
    )
    out = decode_job.decode_table(chunks, cols)
    return out.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        F.element_at("words", 1).alias("first_word"),
        F.element_at("words", -1).alias("last_word"),
        F.col("words_n").isNull().alias("words_dropped"),
        F.aggregate(
            "lens", F.lit(0).cast("long"), lambda a, v: a + v.cast("long")
        ).alias("sum_lens"),
        F.col("st.n_chars").alias("n_chars"),
        F.col("st.src").alias("src"),
        F.col("m").getItem("len").alias("m_len"),
        F.aggregate(
            "ws",
            F.lit(0).cast("long"),
            lambda a, x: a + F.coalesce(x["wl"], F.lit(0).cast("long")),
        ).alias("ws_sum"),
        F.size(F.filter("ws", lambda x: x.isNull())).cast("long").alias("ws_nulls"),
        F.aggregate(
            F.flatten(F.filter("aa", lambda x: x.isNotNull())),
            F.lit(0).cast("long"),
            lambda a, v: a + v.cast("long"),
        ).alias("aa_sum"),
        F.size(F.filter("aa", lambda x: x.isNull())).cast("long").alias("aa_nulls"),
    )


_ORACLE_RT_NESTED = """
SELECT doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
       string_split(text, ' ')[1] AS first_word,
       string_split(text, ' ')[-1] AS last_word,
       (doc_id % 7 = 0) AS words_dropped,
       CAST(list_sum(list_transform(string_split(text, ' '),
                                    w -> length(w))) AS BIGINT) AS sum_lens,
       CAST(length(text) AS BIGINT) AS n_chars,
       source AS src,
       CAST(length(text) AS BIGINT) AS m_len,
       CAST(list_sum(list_transform(string_split(text, ' '),
                                    w -> CASE WHEN length(w) % 5 != 4
                                              THEN length(w) ELSE 0 END))
            AS BIGINT) AS ws_sum,
       CAST(len(list_filter(string_split(text, ' '),
                            w -> length(w) % 5 = 4)) AS BIGINT) AS ws_nulls,
       CAST(list_sum(list_transform(string_split(text, ' '), w -> length(w)))
            + CASE WHEN doc_id % 3 != 0
                   THEN COALESCE(list_sum(list_transform(
                            string_split(text, ' ')[1:2], w -> length(w))), 0)
                   ELSE 0 END AS BIGINT) AS aa_sum,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT) AS aa_nulls
FROM documents
"""


def _q_rt_binary_table(spark, sf_dir) -> DataFrame:
    """BinaryType + DECIMAL(38,6) through the generic path: binary columns
    ride BYTE_ARRAY chunks and come back as BinaryType (md5-checked); wide
    decimals ride exact decimal strings (reference byte-array-backed
    Decimal, src/data_type.rs:144-235)."""
    encode_job, decode_job = _engine(spark)
    docs = _read(spark, sf_dir, "documents")
    df = docs.select(
        F.col("doc_id").cast("long"),
        "source",
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.when(F.col("doc_id") % 4 != 0, F.encode(F.col("source"), "utf-8")).alias("tag_b"),
        F.concat(F.col("doc_id").cast("string"), F.lit(".123456"))
        .cast("decimal(38,6)")
        .alias("big"),
    )
    cols = encode_job.derive_columns(df)
    chunks = encode_job.encode_table(
        df, columns=cols, rows_per_bucket=128,
        bucket_key="source", salt_col="doc_id", sort_col="doc_id",
    )
    out = decode_job.decode_table(chunks, cols)
    return out.select(
        "doc_id",
        F.md5("content").alias("md5c"),
        F.length("content").cast("long").alias("len_c"),
        F.col("tag_b").isNull().alias("tag_dropped"),
        F.coalesce(F.md5("tag_b"), F.lit("none")).alias("md5t"),
        F.col("big").cast("string").alias("big_s"),
    )


_ORACLE_RT_BINARY = """
SELECT doc_id,
       md5(text) AS md5c,
       CAST(strlen(text) AS BIGINT) AS len_c,
       (doc_id % 4 = 0) AS tag_dropped,
       CASE WHEN doc_id % 4 = 0 THEN 'none' ELSE md5(source) END AS md5t,
       CAST(CAST(CAST(doc_id AS VARCHAR) || '.123456' AS DECIMAL(38,6)) AS VARCHAR) AS big_s
FROM documents
"""


def _q_rt_delta_ba_sorted_ids(spark, sf_dir) -> DataFrame:
    """Front coding (DELTA_BYTE_ARRAY) chosen BY THE SELECTOR: sorted keys
    with long group prefixes (md5 of a 97-way group + padded counter) defeat
    FSST's 255-symbol table but front-code to ~25% (reference
    src/encodings/encoding.rs:866-952). The query asserts the auto-selected
    codec AND the decoded values."""
    encode_job, decode_job = _engine(spark)
    docs = _read(spark, sf_dir, "documents")
    keyed = docs.select(
        F.concat(
            F.md5((F.col("doc_id") % 97).cast("string")),
            F.lit("-"),
            F.lpad(F.col("doc_id").cast("string"), 8, "0"),
        ).alias("key"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lit("d").alias("grp"),
    )
    cols = encode_job.derive_columns(keyed)
    chunks = encode_job.encode_table(
        keyed, columns=cols, rows_per_bucket=1_000_000,
        bucket_key="grp", salt_col="key", sort_col="key",
    ).persist()
    dec = decode_job.decode_table(chunks, cols)
    agg = dec.agg(
        F.count("*").cast("long").alias("n"),
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
        F.sum(F.length("key").cast("long")).alias("sum_len"),
        F.sum("doc_id").cast("long").alias("sum_id"),
    )
    codec = chunks.where(F.col("column") == "key").agg(
        F.array_join(F.sort_array(F.collect_set("codec")), ",").alias("key_codec")
    )
    return agg.crossJoin(codec)


_ORACLE_DELTA_BA = """
SELECT COUNT(*) AS n,
       MIN(key) AS min_key,
       MAX(key) AS max_key,
       CAST(SUM(length(key)) AS BIGINT) AS sum_len,
       CAST(SUM(doc_id) AS BIGINT) AS sum_id,
       'delta_ba' AS key_codec
FROM (
  SELECT md5(CAST(doc_id % 97 AS VARCHAR)) || '-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS key,
         doc_id
  FROM documents
)
"""


def _q_pruned_scan_strings(spark, sf_dir) -> DataFrame:
    """String-statistics pruning: source buckets are homogeneous, so a
    BETWEEN predicate on the source column keeps exactly the matching
    sources' chunks (vmin_s == vmax_s == source) — no other payload is
    deserialized."""
    encode_job, decode_job = _engine(spark)
    seq = _seq_from_documents(spark, sf_dir)
    chunks = encode_job.encode_table(seq, rows_per_bucket=64)
    decoded = decode_job.decode_chunks_pruned(chunks, "source", "src10", "src15")
    return (
        decoded.where(F.col("source").between("src10", "src15"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("n_tok").cast("long")).alias("total_tokens"),
        )
    )


def _q_pruned_scan_floats(spark, sf_dir) -> DataFrame:
    """Float-statistics pruning through the generic table path — via the
    r7 FILTERED scan (decode_table_filtered): the same [0.5, 2.5] window
    expressed as two ONE-SIDED comparison leaves ANDed, chunk pruning
    and the exact row residual applied inside the call, so the full
    predicate algebra is exercised under this graded gate."""
    encode_job, decode_job = _engine(spark)
    ev = _read(spark, sf_dir, "events").select(
        F.col("event_id").cast("long"),
        "event_type",
        F.col("value").cast("double"),
    )
    cols = encode_job.derive_columns(ev)
    chunks = encode_job.encode_table(
        ev, columns=cols, rows_per_bucket=1024,
        bucket_key="event_type", salt_col="event_id", sort_col="event_id",
    )
    dec = decode_job.decode_table_filtered(
        chunks, cols, [("value", ">=", 0.5), ("value", "<=", 2.5)]
    )
    return (
        dec
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("event_id").cast("long").alias("sum_id"),
            F.round(F.min("value"), 6).alias("min_v"),
            F.round(F.max("value"), 6).alias("max_v"),
        )
    )


def _q_pipeline_end_to_end(spark, sf_dir) -> DataFrame:
    """The COMPOSED training-data pipeline, oracled end to end: planted
    exact dups -> exact dedup -> quality filter -> deterministic tokenize ->
    encode -> decode -> per-doc token aggregates. Two data shuffles total
    (dedup aggregate, encode buckets); every stage is SQL-expressible so
    DuckDB replays the whole flow."""
    encode_job, decode_job = _engine(spark)
    from engine import pipeline

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text", "source")
    planted = docs.union(
        docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text", "source")
    )
    seq = pipeline.prepare_corpus(planted, min_chars=40, max_punct_ratio=0.2)
    chunks = encode_job.encode_table(seq, rows_per_bucket=256)
    dec = decode_job.decode_chunks(chunks)
    ex = dec.select("doc_id", F.posexplode("tokens").alias("pos", "tok"))
    return ex.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tok"),
        F.sum(F.col("tok").cast("long")).alias("tok_sum"),
        F.sum((F.col("pos") + 1) * F.col("tok").cast("long")).alias("tok_wsum"),
    ).select(F.col("doc_id").cast("long"), "n_tok", "tok_sum", "tok_wsum")


_ORACLE_PIPELINE = """
WITH planted AS (
  SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text, source FROM documents
),
survivors AS (
  SELECT MIN(doc_id) AS doc_id FROM planted GROUP BY md5(text)
),
kept AS (
  SELECT p.* FROM planted p JOIN survivors s USING (doc_id)
),
good AS (
  SELECT * FROM kept
  WHERE length(text) >= 40
    AND ROUND(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
              / GREATEST(length(text), 1), 6) <= 0.2
),
toks AS (
  SELECT doc_id,
         UNNEST(list_transform(
           list_zip(string_split(text, ' '),
                    range(1, len(string_split(text, ' ')) + 1)),
           x -> struct_pack(pos := x[2],
                            tok := (length(x[1]) * 31 + ascii(x[1])) % 50000)
         )) AS t
  FROM good
)
SELECT doc_id,
       COUNT(*) AS n_tok,
       CAST(SUM(CAST(t.tok AS BIGINT)) AS BIGINT) AS tok_sum,
       CAST(SUM(CAST(t.pos AS BIGINT) * CAST(t.tok AS BIGINT)) AS BIGINT) AS tok_wsum
FROM toks GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# training-data pipeline ops
# --------------------------------------------------------------------------


def _q_dedup_exact(spark, sf_dir) -> DataFrame:
    from engine.ops import dedup

    _engine(spark)
    docs = _read(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).select(
        "text_md5", F.col("survivor_id").cast("long"), "dup_count"
    )


_ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_md5, MIN(doc_id) AS survivor_id,
       COUNT(*) AS dup_count
FROM documents GROUP BY md5(text)
"""


def _q_near_dup_verified(spark, sf_dir) -> DataFrame:
    """Full dedup pipeline: MinHash-LSH candidates -> exact n-gram Jaccard
    verification at threshold 1.0. Exact-duplicate groups collapse to STAR
    edges (min-id representative -> member) before banding — linear in
    duplicate mass by design — so the deterministic J=1.0 result set is the
    per-md5-group star, which the oracle replays with a window min. (The
    all-pairs/star distinction is immaterial transitively; dedup_clusters
    verifies that equivalence through connected components.)"""
    from engine.ops import dedup

    _engine(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    # plant one duplicate per document (id + 10_000_000) so the pipeline has
    # known ground truth; identical texts collide on every LSH band, so the
    # J=1.0 result is deterministic, not probabilistic
    planted = docs.union(
        docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    cand = dedup.minhash_lsh_pairs(planted, num_hashes=32, bands=16)
    pairs = dedup.ngram_jaccard_pairs(planted, cand, threshold=1.0)
    return pairs.select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long")
    )


_ORACLE_NEAR_DUP = """
WITH planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents
),
g AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep
  FROM planted
)
SELECT rep AS id_a, doc_id AS id_b FROM g WHERE doc_id != rep
"""


def _q_dedup_clusters(spark, sf_dir) -> DataFrame:
    """Pairs -> CLUSTERS -> keep/drop decisions: MinHash-LSH candidates,
    exact Jaccard verification at 1.0, then distributed connected
    components (min-label propagation + pointer jumping,
    engine/ops/graph.py) assign every document a transitive cluster id and
    exactly one survivor. Two planted copies per document make clusters of
    size >= 3, so transitivity is actually exercised (A~B, B~C may arrive
    without (A, C)). The oracle replays the semantics with a SQL window
    min over exact-text groups."""
    from engine.ops import dedup, graph

    _engine(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (
        docs.union(
            docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
        ).union(
            docs.select((F.col("doc_id") + 20_000_000).alias("doc_id"), "text")
        )
    )
    cand = dedup.minhash_lsh_pairs(planted, num_hashes=32, bands=16)
    pairs = dedup.ngram_jaccard_pairs(planted, cand, threshold=1.0).select(
        "id_a", "id_b"
    )
    out = graph.dedup_decisions(planted, pairs)
    return out.select(
        F.col("doc_id").cast("long"), F.col("cluster").cast("long"), "keep"
    )


_ORACLE_DEDUP_CLUSTERS = """
WITH planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000000 AS doc_id, text FROM documents
)
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY md5(text)) AS cluster,
       doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
FROM planted
"""


def _q_knn(spark, sf_dir) -> DataFrame:
    """Brute-force cosine top-10 for the first 5 vectors as queries."""
    from engine.ops import simsearch

    _engine(spark)
    emb = _spread(spark, _read(spark, sf_dir, "embeddings")).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = simsearch.cosine_topk_bruteforce(emb, queries, k=10)
    return out.select(
        F.col("query_id").cast("long"),
        F.col("rank").cast("long"),
        F.col("vec_id").cast("long"),
        F.round("cosine", 4).alias("cosine"),
    )


_ORACLE_KNN = """
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec
  FROM embeddings WHERE vec_id < 5
),
sims AS (
  SELECT q.query_id, e.vec_id,
         ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 6)
           AS cosine6
  FROM embeddings e CROSS JOIN q
),
ranked AS (
  SELECT query_id, vec_id, cosine6,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine6 DESC, vec_id ASC) AS rank
  FROM sims
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id,
       ROUND(cosine6, 4) AS cosine
FROM ranked WHERE rank <= 10
"""


# --------------------------------------------------------------------------
# relational demonstrations (Spark built-ins; reference has no query layer —
# SURVEY.md §2.6)
# --------------------------------------------------------------------------


def _q_tpch_q1(spark, sf_dir) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


_ORACLE_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def _q_events_hourly(spark, sf_dir) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def _q_events_hourly_stream(spark, sf_dir) -> DataFrame:
    """Structured Streaming replay of events_hourly: readStream over the
    events parquet with an availableNow trigger, watermarked tumbling
    1-hour windows, complete-mode memory sink — the streaming operator
    path (withWatermark + window + agg, engine/streaming.py's shape)
    hash-checked against the SAME DuckDB oracle as the batch query. The
    n_events/sum_value totals can only match if every row flowed through
    the streaming source exactly once."""

    import hashlib
    import tempfile

    ev_schema = _read(spark, sf_dir, "events").schema
    # the file streaming source requires a DIRECTORY; stage the (read-only)
    # table file behind a symlink — deterministic per sf_dir, so repeated
    # invocations reuse one stage dir instead of leaking temp dirs
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    stage = os.path.join(tempfile.gettempdir(), f"sg_stream_{tag}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    target = os.path.realpath(f"{sf_dir}/events.parquet")
    if not (os.path.islink(link) and os.readlink(link) == target):
        # atomic create-or-refresh: symlink to a unique temp name, then
        # rename over the final path — two concurrent runs race safely and
        # a stale link (source replaced) is corrected (ADVICE r3)
        tmp_link = f"{link}.{os.getpid()}.{_uuid.uuid4().hex[:6]}.tmp"
        os.symlink(target, tmp_link)
        os.replace(tmp_link, link)
    # Pin the session timezone to UTC for the WHOLE build+run: F.window
    # aligns buckets to the UTC epoch while the NTZ->TIMESTAMP cast uses the
    # session tz, so a half-hour-offset ambient tz (Asia/Kolkata) would put
    # every bucket at :30 and mis-count windows. The pin must precede
    # readStream/plan construction — the streaming runner clones the session
    # (and its conf) when the stream is DEFINED, not when it starts
    # (verified empirically: pinning only around start() still bucketed at
    # :30 under a +05:30 session tz).
    name = f"evh_stream_{_uuid.uuid4().hex[:8]}"
    tz_key = "spark.sql.session.timeZone"
    prev_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        stream = spark.readStream.schema(ev_schema).parquet(stage)
        agg = (
            stream.withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "1 hour")
            .groupBy(F.window(F.col("ts"), "1 hour"), F.col("event_type"))
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .select(
                F.col("window.start").cast("timestamp_ntz").alias("hour"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # materialize under UTC, then drop the memory sink so repeated
        # invocations don't accumulate complete-mode state in the driver
        out = spark.table(name).localCheckpoint()
    finally:
        spark.conf.set(tz_key, prev_tz)
    spark.catalog.dropTempView(name)
    return out


def _q_tpch_q3(spark, sf_dir) -> DataFrame:
    """Join demo: revenue per order for urgent orders (broadcast-able dims)."""
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
            ).cast("decimal(18,4)").cast("string").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


_ORACLE_TPCH_Q3 = """
SELECT l_orderkey,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
            AS DECIMAL(18,4)) AS VARCHAR) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_orderkey
"""


def _q_tpch_q6(spark, sf_dir) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): a pure filter+aggregate
    whose predicates (date range, discount band, quantity cap) all push
    into the parquet scan — the canonical predicate-pushdown showcase.
    Whole-stage codegen end to end, zero joins, one exchange for the
    final single-group agg. Decimal accumulation avoids float summation
    drift against the oracle."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * F.col("l_discount").cast("decimal(18,4)")
            ).cast("decimal(18,4)").cast("string").alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


_ORACLE_TPCH_Q6 = """
SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                     * CAST(l_discount AS DECIMAL(18,4)))
            AS DECIMAL(18,4)) AS VARCHAR) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def _q_tpch_q14(spark, sf_dir) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): lineitem joined to a BROADCAST
    part dimension with a conditional aggregate — the promo share of
    revenue in one month. Demonstrates conditional aggregation over a
    broadcast join (no shuffle of the fact side beyond the final
    single-group agg)."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    )
    joined = li.where(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    ).join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,4)")))
        .cast("decimal(18,4)").cast("string").alias("promo_revenue"),
        F.sum(rev).cast("decimal(18,4)").cast("string").alias("total_revenue"),
        F.count("*").alias("n_rows"),
    )


_ORACLE_TPCH_Q14 = """
SELECT CAST(CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(18,4)) AS VARCHAR)
         AS promo_revenue,
       CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
            AS DECIMAL(18,4)) AS VARCHAR) AS total_revenue,
       COUNT(*) AS n_rows
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'
"""


def _q_top_suppliers_per_nation(spark, sf_dir) -> DataFrame:
    """Window-function demo over the dimension tables (SURVEY §2.6:
    filters/joins/aggs/windows on Spark built-ins): top-3 suppliers by
    account balance per nation, dims broadcast."""
    sup = _read(spark, sf_dir, "supplier")
    nat = _read(spark, sf_dir, "nation")
    reg = _read(spark, sf_dir, "region")
    w = Window.partitionBy("n_nationkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "r_name",
            "n_name",
            F.col("rnk").cast("long"),
            "s_suppkey",
            F.round("s_acctbal", 2).alias("acctbal"),
        )
    )


_ORACLE_TOP_SUPPLIERS = """
SELECT r_name, n_name, rnk, s_suppkey, ROUND(s_acctbal, 2) AS acctbal
FROM (
  SELECT r_name, n_name, s_suppkey, s_acctbal,
         ROW_NUMBER() OVER (PARTITION BY n_nationkey
                            ORDER BY s_acctbal DESC, s_suppkey ASC) AS rnk
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
)
WHERE rnk <= 3
"""


_ORACLE_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n_events, ROUND(SUM(value), 4) AS sum_value
FROM events GROUP BY date_trunc('hour', ts), event_type
"""


# --------------------------------------------------------------------------
# LSH candidate stages, gated via planted-pair subset assertions
# (VERDICT r3 #3: the FULL candidate list on arbitrary input is
# LSH-dependent and not SQL-expressible, but a planted deterministic
# subset IS — same technique as simhash_planted / near_dup_verified)
# --------------------------------------------------------------------------


def _q_minhash_pairs(spark, sf_dir) -> DataFrame:
    """Candidate-stage oracle for ``minhash_lsh_pairs`` alone (no Jaccard
    verification stage, unlike near_dup_verified): plant one exact
    duplicate per document. Identical texts agree on every band hash, and
    the exact-collapse star deterministically links each md5-group member
    to its min-id representative — an edge set expressible as a SQL window
    min. Asserting that set is a SUBSET of the candidate output gates the
    banding + star-collapse stages directly; any dropped planted edge is a
    hash mismatch."""
    from engine.ops import dedup

    _engine(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.union(
        docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    cand = dedup.minhash_lsh_pairs(planted, num_hashes=32, bands=8)
    w = Window.partitionBy(F.md5("text"))
    expected = (
        planted.withColumn("rep", F.min("doc_id").over(w))
        .where(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    found = expected.join(
        cand.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi"
    )
    return found.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))


_ORACLE_MINHASH_PAIRS = """
WITH planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id, text FROM documents
),
g AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS rep
  FROM planted
)
SELECT rep AS id_a, doc_id AS id_b FROM g WHERE doc_id != rep
"""


def _q_simhash_pairs(spark, sf_dir) -> DataFrame:
    """Radius-5 SimHash configuration oracle (simhash_planted covers
    radius 3 / 4 blocks; max_hamming=5 auto-raises to 6 near-equal blocks,
    exercising the generalized pigeonhole split the r4 review added — the
    old fixed 16-bit split silently lost recall past radius 3): identical
    planted texts share a 64-bit signature, so the hamming-0 star rep-map
    must connect every planted pair. Signature-equal groups can absorb
    distinct docs, hence the rep-equality check rather than direct edge
    membership."""
    from engine.ops import dedup

    _engine(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.union(
        docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    pairs = dedup.simhash_near_dup_pairs(planted, max_hamming=5)
    rep_map = pairs.where(F.col("hamming") == 0).select(
        F.col("id_b").alias("node"), F.col("id_a").alias("rep")
    )
    expected = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 10_000_000).alias("id_b"),
    )
    ra = rep_map.withColumnRenamed("node", "id_a").withColumnRenamed("rep", "rep_a")
    rb = rep_map.withColumnRenamed("node", "id_b").withColumnRenamed("rep", "rep_b")
    found = (
        expected.join(ra, "id_a", "left")
        .join(rb, "id_b", "left")
        .where(
            F.coalesce(F.col("rep_a"), F.col("id_a"))
            == F.coalesce(F.col("rep_b"), F.col("id_b"))
        )
    )
    return found.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))


def _recall_vs_bruteforce(emb, queries, approx, floor: float) -> DataFrame:
    """(query_id, n_exact, meets_floor): recall@k of an ANN result against
    the exact top-k, computed Spark-side (VERDICT r1 #4: an approximate op
    without a recall number is unshippable). The oracle pins every query at
    meets_floor = true, so a recall regression is a hash mismatch."""
    from engine.ops import simsearch

    exact = simsearch.cosine_topk_bruteforce(emb, queries, k=10)
    hits = exact.join(
        approx.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi"
    )
    n_hit = hits.groupBy("query_id").agg(F.count("*").alias("n_hit"))
    n_exact = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    return (
        n_exact.join(n_hit, "query_id", "left")
        .select(
            F.col("query_id").cast("long"),
            F.col("n_exact").cast("long"),
            (
                F.coalesce(F.col("n_hit"), F.lit(0))
                >= F.ceil(F.col("n_exact") * floor)
            ).alias("meets_floor"),
        )
    )


def _q_knn_lsh(spark, sf_dir) -> DataFrame:
    """Multi-table multiprobe LSH ANN, oracled by recall@10 >= 0.3 against
    brute force (the embeddings are near-random unit vectors — top-10
    cosine ~0.28-0.37 vs random mean 0.004 — so 0.3 is ~15x better than the
    27%-of-corpus candidate rate would give at random; measured 0.4-0.5)."""
    from engine.ops import simsearch

    _engine(spark)
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    dim = len(emb.select("embedding").first()[0])
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = simsearch.cosine_topk_lsh(
        emb, queries, dim=dim, k=10, nbits=8, ntables=8, multiprobe=True
    )
    return _recall_vs_bruteforce(emb, queries, approx, floor=0.3)


def _q_knn_ivf(spark, sf_dir) -> DataFrame:
    """IVF ANN (8 coarse centroids, nprobe=3), oracled by recall@10 >= 0.8
    against brute force over a corpus with PLANTED neighbors: 10 jittered
    copies of each query vector (cosine ~0.998 vs natural best ~0.37) are
    unioned in, so the exact top-10 is the planted set and the gate tests
    what IVF is for — retrieving genuinely-near neighbors from the probed
    cells. (The pre-r5 gate ranked raw near-random vectors and only passed
    because the biased first-N-by-id seed anchored centroids AT the query
    vectors; hash-stratified seeding — VERDICT r4 #4 — removed that crutch,
    so the gate now plants real structure instead. Recall measured 0.9-1.0
    across sf0.001/0.01/0.1.) Training is DISTRIBUTED: the driver sample
    supplies only the deterministic init (iters=0); the Lloyd rounds run
    over the full table via refine_centroids (one flat-plan lloyd_stats
    pass per round)."""
    import numpy as np

    from engine.ops import simsearch

    _engine(spark)
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    qpdf = emb.where(F.col("vec_id") < 5).toPandas()
    rng = np.random.default_rng(0)
    planted = [
        (
            int(20_000_000 + row["vec_id"] * 100 + j),
            [
                float(v)
                for v in np.asarray(row["embedding"])
                + 0.01 * rng.standard_normal(len(row["embedding"]))
            ],
        )
        for _, row in qpdf.sort_values("vec_id").iterrows()
        for j in range(10)
    ]
    corpus = emb.union(
        spark.createDataFrame(planted, "vec_id long, embedding array<double>")
    )
    init = simsearch.train_centroids(corpus, k=8, iters=0)
    cents = simsearch.refine_centroids(corpus, init, iters=2)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = simsearch.ivf_topk(corpus, queries, cents, k=10, nprobe=3)
    return _recall_vs_bruteforce(corpus, queries, approx, floor=0.8)


def _q_embedding_dedup_planted(spark, sf_dir) -> DataFrame:
    """Embedding-cosine near-dup oracle: plant one bit-identical copy per
    vector (identical vector -> identical xxhash64 -> same-vector star edge,
    deterministically); every planted pair must come back."""
    from engine.ops import dedup

    _engine(spark)
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    dim = len(emb.select("embedding").first()[0])
    planted = emb.union(
        emb.select((F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding")
    )
    pairs = dedup.embedding_near_dup_pairs(planted, dim=dim, threshold=0.99)
    # cosine-1.0 edges are the same-vector star: member -> its group's
    # min-id rep (unique per member); reps agree iff vectors identical
    rep_map = pairs.where(F.col("cosine") == 1.0).select(
        F.col("id_b").alias("node"), F.col("id_a").alias("rep")
    )
    expected = emb.select(
        F.col("vec_id").alias("id_a"),
        (F.col("vec_id") + 10_000_000).alias("id_b"),
    )
    ra = rep_map.withColumnRenamed("node", "id_a").withColumnRenamed("rep", "rep_a")
    rb = rep_map.withColumnRenamed("node", "id_b").withColumnRenamed("rep", "rep_b")
    found = (
        expected.join(ra, "id_a", "left")
        .join(rb, "id_b", "left")
        .where(
            F.coalesce(F.col("rep_a"), F.col("id_a"))
            == F.coalesce(F.col("rep_b"), F.col("id_b"))
        )
    )
    return found.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))


_ORACLE_EMB_DEDUP = """
SELECT vec_id AS id_a, vec_id + 10000000 AS id_b FROM embeddings
"""


def _q_simhash_planted(spark, sf_dir) -> DataFrame:
    """SimHash pipeline oracle: plant one exact duplicate per document
    (identical text -> identical 64-bit signature -> same-signature star
    edge, deterministically); every planted pair must come back."""
    from engine.ops import dedup

    _engine(spark)
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.union(
        docs.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    )
    pairs = dedup.simhash_near_dup_pairs(planted, max_hamming=3)
    # hamming-0 edges are the same-signature star: member -> its group's
    # min-id rep (unique per member). Two docs are same-signature iff their
    # reps agree — covers planted pairs whose group absorbed other docs.
    rep_map = pairs.where(F.col("hamming") == 0).select(
        F.col("id_b").alias("node"), F.col("id_a").alias("rep")
    )
    expected = docs.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 10_000_000).alias("id_b"),
    )
    ra = rep_map.withColumnRenamed("node", "id_a").withColumnRenamed("rep", "rep_a")
    rb = rep_map.withColumnRenamed("node", "id_b").withColumnRenamed("rep", "rep_b")
    joined = expected.join(ra, "id_a", "left").join(rb, "id_b", "left")
    found = joined.where(
        F.coalesce(F.col("rep_a"), F.col("id_a"))
        == F.coalesce(F.col("rep_b"), F.col("id_b"))
    )
    return found.select(F.col("id_a").cast("long"), F.col("id_b").cast("long"))


def _media_parquet() -> str:
    """Deterministic fake-media parquet shared by the Spark query and the
    DuckDB oracle (written via pure pyarrow on first use; contents are a
    seeded pure function, so any racing writers produce identical bytes)."""
    import tempfile

    from engine.ops import multimodal

    path = os.path.join(tempfile.gettempdir(), "spark_graft_media48_v1.parquet")
    if not os.path.exists(path):
        multimodal.write_fake_media_parquet(path, n=48, seed=42)
    return path


def _decodable_media_parquet() -> str:
    """Deterministic REAL-format media parquet (netpbm + PNG + WAV payloads
    with generation-frozen expected features) shared by both gate sides.
    v6: r5 — PNG, JPEG, MP4-container and MP3-frame rows (all real-parsed);
    P5-gray + stereo-WAV variety restored. v7: r7 — audio rows alternate
    WAV and FLAC (real compressed-sample decode, engine/ops/flac.py)."""
    import tempfile

    from engine.ops import multimodal

    path = os.path.join(tempfile.gettempdir(), "spark_graft_media_decode48_v7.parquet")
    if not os.path.exists(path):
        multimodal.write_decodable_media_parquet(path, n=48, seed=7, dim=8)
    return path


def _q_media_decode(spark, sf_dir) -> DataFrame:
    """REAL media decode gate (r4; r5 adds PNG, JPEG, MP4/MP3 structure):
    payloads are actual binary netpbm images, zlib-compressed PNGs (every
    channel layout x scanline filter type), baseline JPEGs, PCM WAV files
    and real MP4/MP3 containers; extract_features sniffs the magic,
    decodes with the pure-numpy/stdlib parsers and recomputes dimensions/
    channel means/stds/RMS/zero-crossing statistics. The oracle replays the
    feature vector FROZEN at generation time, so a broken parser or drifted
    statistic is a hash mismatch. Only compressed codec PAYLOADS (H.264
    frames, MP3 samples — PAYLOAD_DECODE_STUBBED) take the deterministic
    fake; their container structure still parses for real (r5 advice #3)."""
    from engine.ops import multimodal

    _engine(spark)
    media = spark.read.parquet(_decodable_media_parquet())
    feats = multimodal.extract_features(
        media.select([f.name for f in multimodal.MEDIA_SCHEMA.fields]), dim=8
    )
    return feats.select(
        "media_id",
        "kind",
        *[F.col("feature")[i].cast("double").alias(f"f{i}") for i in range(8)],
    )


def _q_media_resize(spark, sf_dir) -> DataFrame:
    """Resize-stage gate (r4; r5 adds PNG): netpbm and PNG payloads run
    through resize_media
    (decode -> pure-numpy nearest-neighbor 8x8 -> re-encode) and the
    re-encoded thumbnail bytes are sha-hashed Spark-side against the
    generation-frozen expectation; absolute index-sampling semantics are
    pinned separately in pytest against numpy."""
    from engine.ops import multimodal

    _engine(spark)
    media = spark.read.parquet(_decodable_media_parquet())
    imgs = media.where(F.col("kind") == "image").select(
        [f.name for f in multimodal.MEDIA_SCHEMA.fields]
    )
    resized = multimodal.resize_media(imgs, 8, 8)
    return resized.select(
        "media_id",
        F.col("width").cast("int"),
        F.col("height").cast("int"),
        F.lower(F.sha2(F.col("content"), 256)).alias("resized_sha"),
    )


def _q_media_probe(spark, sf_dir) -> DataFrame:
    """Typed media probe gate: probe_media detects the format and parses
    dimensions / sample rates / frame counts from the ACTUAL bytes
    (image decode headers, MP4 sample tables, MP3 frame walks); the
    oracle is the media table's own stored generation metadata — ground
    truth written independently of the parsers — plus the kind column
    reproduced from the probed format."""
    from engine.ops import multimodal

    _engine(spark)
    media = spark.read.parquet(_decodable_media_parquet())
    probe = multimodal.probe_media(
        media.select([f.name for f in multimodal.MEDIA_SCHEMA.fields])
    )
    kind = (
        F.when(F.col("format").isin("netpbm", "png", "jpeg"), "image")
        .when(F.col("format").isin("wav", "flac", "mp3"), "audio")
        .when(F.col("format") == "mp4", "video")
        .otherwise("unknown")
    )
    return probe.select(
        "media_id",
        kind.alias("kind"),
        F.col("width").cast("int"),
        F.col("height").cast("int"),
        F.col("sample_rate").cast("int"),
        # n_frames is comparable where the table stores it (video rows);
        # audio frame counts are probe-only detail
        F.when(F.col("format") == "mp4", F.col("n_frames"))
        .cast("int")
        .alias("n_frames"),
    )


def _oracle_media_probe() -> str:
    return (
        "SELECT media_id, kind, width, height, sample_rate, n_frames "
        f"FROM read_parquet('{_decodable_media_parquet()}')"
    )


_GOLDEN_DIR = "/root/reference/data"


def _q_golden_alltypes(spark, sf_dir) -> DataFrame:
    """Byte-level parquet interop gate (VERDICT r4 top-next): the Impala
    alltypes golden file — which the reference itself tests against
    (src/file/reader.rs:545-703) — decoded by the ENGINE's thrift footer
    parser + PLAIN/PLAIN_DICTIONARY/RLE codecs through the distributed
    mapInArrow read path, vs DuckDB's independent parquet reader on the
    same file. All 11 columns incl. INT96 timestamps (surfaced as epoch
    nanoseconds)."""
    from engine import parquet_compat

    _engine(spark)
    df = parquet_compat.read_parquet_with_engine(
        spark, f"{_GOLDEN_DIR}/alltypes_plain.parquet"
    )
    return df.select(
        "id",
        "bool_col",
        "tinyint_col",
        "smallint_col",
        "int_col",
        "bigint_col",
        F.round(F.col("float_col").cast("double"), 4).alias("float_col"),
        F.round("double_col", 4).alias("double_col"),
        F.col("date_string_col").cast("string").alias("date_string_col"),
        F.col("string_col").cast("string").alias("string_col"),
        F.col("timestamp_col").alias("ts_ns"),
    )


_ORACLE_GOLDEN_ALLTYPES = f"""
SELECT id, bool_col, tinyint_col, smallint_col, int_col, bigint_col,
       ROUND(CAST(float_col AS DOUBLE), 4) AS float_col,
       ROUND(double_col, 4) AS double_col,
       CAST(date_string_col AS VARCHAR) AS date_string_col,
       CAST(string_col AS VARCHAR) AS string_col,
       CAST(epoch_ns(timestamp_col) AS BIGINT) AS ts_ns
FROM read_parquet('{_GOLDEN_DIR}/alltypes_plain.parquet')
"""


def _q_golden_10k_delta(spark, sf_dir) -> DataFrame:
    """Golden-file gate over parquet-mr's 10k-v2.parquet: 10000 rows of
    DELTA_BINARY_PACKED int32/int64, DELTA_BYTE_ARRAY variable binary,
    front-coded FIXED_LEN_BYTE_ARRAY (md5'd — 1 KiB per value) and
    RLE-boolean values, decoded by the engine's own delta/rle kernels and
    hashed against DuckDB's reader. (The INT96 dictionary column is
    pytest-gated vs pyarrow instead: its all-zero julian-day-0 sentinel
    predates DuckDB's nanosecond range.)"""
    from engine import parquet_compat

    _engine(spark)
    df = parquet_compat.read_parquet_with_engine(
        spark,
        f"{_GOLDEN_DIR}/10k-v2.parquet",
        columns=[
            "binary_field",
            "int32_field",
            "int64_field",
            "boolean_field",
            "float_field",
            "double_field",
            "flba_field",
        ],
    )
    return df.select(
        F.col("binary_field").cast("string").alias("binary_field"),
        "int32_field",
        "int64_field",
        "boolean_field",
        F.round(F.col("float_field").cast("double"), 4).alias("float_field"),
        F.round("double_field", 4).alias("double_field"),
        F.md5("flba_field").alias("flba_md5"),
    )


_ORACLE_GOLDEN_10K = f"""
SELECT CAST(binary_field AS VARCHAR) AS binary_field,
       int32_field, int64_field, boolean_field,
       ROUND(CAST(float_field AS DOUBLE), 4) AS float_field,
       ROUND(double_field, 4) AS double_field,
       md5(CAST(flba_field AS VARCHAR)) AS flba_md5
FROM read_parquet('{_GOLDEN_DIR}/10k-v2.parquet')
"""


def _gate_export(df, out_prefix, sf_dir, cols_fn, **export_kwargs):
    """Export ``df`` through the resumable export job
    (engine/jobs/export.py: deterministic bucket units, digest-named
    files, tmp + atomic rename) into a cleared tmp dir -> the committed
    file paths. The dir is cleared first: the gates grade a FULL export
    (the resume contract itself is pinned by tests/test_export_resume.py).
    ``cols_fn(tbl, parquet_out)`` builds the column spec from the unit's
    rows as a pyarrow Table, already sorted by ``sort_col``."""
    import shutil
    import tempfile

    from engine.jobs.export import export_parquet

    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"{out_prefix}_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    manifest = export_parquet(df, out_dir, cols_fn=cols_fn, **export_kwargs)
    return [r["path"] for r in manifest.collect()]  # bounded: 1/unit


def _q_parquet_export(spark, sf_dir) -> DataFrame:
    """Writer-side parquet interop (the inverse of the golden_file_* read
    gates): each bucket unit of the documents table is written as a REAL
    parquet file by engine/parquet_out.py — engine codecs wrapped in
    thrift-compact page headers + footer (DELTA_BINARY_PACKED doc ids,
    DELTA_LENGTH_BYTE_ARRAY text, PLAIN_DICTIONARY lang/source) — then
    read back with Spark's own JVM parquet reader and hashed against the
    DuckDB oracle over the ORIGINAL table. Green means a plain parquet
    consumer can read what this engine writes, byte-grammar included."""
    import numpy as np

    _engine(spark)
    docs = _read(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )

    def cols_fn(tbl, parquet_out):
        from engine.codecs import bytearrays

        def utf8(c):
            return bytearrays.flat_from_arrow(tbl[c].combine_chunks())

        # rows arrive sorted by doc_id (delta loves sorted ids); AUTO = the
        # engine's per-chunk codec selector resolving to parquet encodings
        # (sorted ids -> DELTA_BINARY_PACKED, low-card lang/source ->
        # PLAIN_DICTIONARY, high-card text -> delta-length)
        return [
            ("doc_id", "int64", "AUTO",
             tbl["doc_id"].to_numpy().astype(np.int64), None),
            ("text", "utf8", "AUTO", utf8("text"), None),
            ("lang", "utf8", "AUTO", utf8("lang"), None),
            ("source", "utf8", "AUTO", utf8("source"), None),
            ("n_chars", "int64", "AUTO",
             tbl["n_chars"].to_numpy().astype(np.int64), None),
        ]

    back = spark.read.parquet(*_gate_export(
        docs, "sg_pq_export", sf_dir, cols_fn,
        bucket_key="source", salt_col="doc_id", rows_per_bucket=256,
        sort_col="doc_id",
    ))
    return back.select(
        F.col("doc_id").cast("long"),
        "text",
        "lang",
        "source",
        F.col("n_chars").cast("long"),
    )


_ORACLE_PARQUET_EXPORT = """
SELECT doc_id, text, lang, source, n_chars FROM documents
"""


def _q_parquet_export_events(spark, sf_dir) -> DataFrame:
    """Writer-side interop over a TIMESTAMPED table: the events table
    exports through engine-written parquet with logical annotations
    (TIMESTAMP_MICROS on delta-packed epoch micros, dictionary event
    types, PLAIN doubles — NOT BYTE_STREAM_SPLIT, which Spark's reader
    rejects) and v2 data pages, then reads back with Spark's JVM reader.
    Timestamps compare as epoch microseconds on both sides —
    tz-rendering-free (the r3 lesson: pin epoch arithmetic, not
    session-zone display)."""
    import numpy as np

    _engine(spark)
    ev = _read(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )

    def cols_fn(tbl, parquet_out):
        from engine.codecs import bytearrays

        # rows arrive sorted by event_id; ts is int64 epoch micros cast
        # straight from the Arrow timestamp
        return [
            ("event_id", "int64", "DELTA_BINARY_PACKED",
             tbl["event_id"].to_numpy().astype(np.int64), None),
            ("ts", "timestamp_us", "DELTA_BINARY_PACKED",
             tbl["ts"].cast("int64").to_numpy(), None),
            ("user_id", "int64", "AUTO",
             tbl["user_id"].to_numpy().astype(np.int64), None),
            ("event_type", "utf8", "PLAIN_DICTIONARY",
             bytearrays.flat_from_arrow(tbl["event_type"].combine_chunks()),
             None),
            # NOT BYTE_STREAM_SPLIT: Spark 4.1's vectorized reader raises
            # "Unsupported encoding" on BSS pages (pyarrow/DuckDB read
            # them fine) — this gate reads back through Spark's JVM reader
            ("value", "float64", "PLAIN",
             tbl["value"].to_numpy().astype(np.float64), None),
        ]

    back = spark.read.parquet(*_gate_export(
        ev, "sg_pq_export_ev", sf_dir, cols_fn,
        bucket_key=None, salt_col="event_id", sort_col="event_id",
        codec="zstd", data_page_version=2,
    ))
    return back.select(
        F.col("event_id").cast("long"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("user_id").cast("long"),
        "event_type",
        F.round(F.col("value"), 4).alias("value"),
    )


_ORACLE_PARQUET_EXPORT_EVENTS = """
SELECT event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us, user_id,
       event_type, ROUND(value, 4) AS value
FROM events
"""


def _q_page_pruned_read(spark, sf_dir) -> DataFrame:
    """PageIndex-pruned DISTRIBUTED read (VERDICT r6 #1 — the reader half
    of the page-stats feature the reference left TODO at
    src/column/writer.rs:356,480-481, now driver-visible): lineitem is
    exported to engine-written parquet with small multi-page chunks
    (page_size_rows=512, sorted delta-packed orderkeys), then read back
    through read_parquet_with_engine with a CNF predicate pushed all
    the way down (one-sided comparisons, an IN-list over the dict
    column, a null test — the full r7 leaf algebra) — row groups
    excluded by footer stats at PLAN time, non-matching pages skipped
    via the ColumnIndex binary search inside each task. The gate RAISES unless pruning provably engaged
    (rg_planned < rg_total or pages_read < pages_total); the surviving
    rows hash against DuckDB's WHERE over the original table."""
    import numpy as np

    from engine import parquet_compat as pc

    _engine(spark)
    li = _read(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_linenumber", "l_returnflag"
    )

    def cols_fn(tbl, parquet_out):
        from engine.codecs import bytearrays

        # rows arrive sorted by l_orderkey
        return [
            ("l_orderkey", "int64", "DELTA_BINARY_PACKED",
             tbl["l_orderkey"].to_numpy().astype(np.int64), None),
            ("l_partkey", "int64", "AUTO",
             tbl["l_partkey"].to_numpy().astype(np.int64), None),
            ("l_linenumber", "int64", "AUTO",
             tbl["l_linenumber"].to_numpy().astype(np.int64), None),
            ("l_returnflag", "utf8", "PLAIN_DICTIONARY",
             bytearrays.flat_from_arrow(
                 tbl["l_returnflag"].combine_chunks()), None),
        ]

    paths = _gate_export(
        li, "sg_pq_pruned", sf_dir, cols_fn,
        bucket_key=None, salt_col="l_orderkey", sort_col="l_orderkey",
        page_size_rows=512,
        # rows really are sorted (export sorts by sort_col) — declare it
        # so readers see RowGroup.sorting_columns alongside
        # boundary_order=ASC
        sorting_columns=[("l_orderkey", False, False)],
    )
    rep: dict = {}
    back = pc.read_parquet_with_engine(
        spark, paths,
        columns=["l_orderkey", "l_partkey", "l_linenumber", "l_returnflag"],
        # the full r7 leaf algebra, driver-graded: one-sided comparisons
        # (>= and strict <), an IN-list on the dict-encoded string column
        # (page + dictionary filtering), and a null test
        predicate=[
            ("l_orderkey", ">=", 1200),
            ("l_orderkey", "<", 2400),
            ("l_returnflag", "in", ["A", "N"]),
            ("l_returnflag", "notnull", None),
        ],
        prune_stats=True, prune_report=rep,
    ).persist()
    units = (
        back.select("_unit", "_pages_read", "_pages_total")
        .distinct()
        .collect()
    )  # bounded: one row per (file, row group) unit
    pages_read = sum(r["_pages_read"] for r in units)
    pages_total = sum(r["_pages_total"] for r in units)
    if not (rep.get("rg_planned", 0) < rep.get("rg_total", 0)
            or pages_read < pages_total):
        raise RuntimeError(
            "page pruning did not engage: "
            f"row groups {rep}, pages {pages_read}/{pages_total}"
        )
    # the flat engine read surfaces byte arrays as binary (the query
    # layer casts — _spark_type's documented contract)
    back = back.withColumn(
        "l_returnflag", F.col("l_returnflag").cast("string")
    )
    return back.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("l_partkey").cast("long").alias("sum_partkey"),
        F.sum("l_linenumber").cast("long").alias("sum_linenumber"),
        F.min("l_orderkey").cast("long").alias("min_okey"),
        F.max("l_orderkey").cast("long").alias("max_okey"),
    )


_ORACLE_PAGE_PRUNED = """
SELECT l_returnflag,
       COUNT(*) AS n_rows,
       CAST(SUM(l_partkey) AS BIGINT) AS sum_partkey,
       CAST(SUM(l_linenumber) AS BIGINT) AS sum_linenumber,
       CAST(MIN(l_orderkey) AS BIGINT) AS min_okey,
       CAST(MAX(l_orderkey) AS BIGINT) AS max_okey
FROM lineitem
WHERE l_orderkey >= 1200 AND l_orderkey < 2400
  AND l_returnflag IN ('A', 'N') AND l_returnflag IS NOT NULL
GROUP BY l_returnflag
"""


def _q_media_features(spark, sf_dir) -> DataFrame:
    """Multimodal feature extraction over an opaque-binary media table read
    from parquet; n_bytes/content_sha are oracle-checked by DuckDB over the
    SAME file (payloads are ASCII-hex noise, so SQL can sha256 them and
    feature extraction takes the deterministic-fake path — the stub now
    covers only the PAYLOAD_DECODE_STUBBED codec payloads, see
    engine/ops/multimodal.py)."""
    from engine.ops import multimodal

    _engine(spark)
    media = spark.read.parquet(_media_parquet())
    feats = multimodal.extract_features(media, dim=8)
    return feats.select("media_id", "kind", "n_bytes", "content_sha")


# --------------------------------------------------------------------------
# merged gates (round 6): the driver grades only the FIRST 50 registered
# queries (VERDICT r5 finding #1 — CORRECTNESS_r04/r05 are both exactly the
# first-50 set), so single-purpose gates that share a table and an oracle
# shape are folded together below. Every constituent code path still runs;
# the merged oracle is the union/join of the originals.
# --------------------------------------------------------------------------


def _q_golden_bytes(spark, sf_dir) -> DataFrame:
    """The three byte-exact golden encodings (RLE two-runs, RLE
    alternating, delta header — reference src/encodings/rle.rs:667-721,
    encoding.rs:511-533) as one 3-row gate."""
    import functools

    dfs = [_golden_df(spark, name) for name in _GOLDEN_HEX]
    return functools.reduce(lambda a, b: a.unionAll(b), dfs)


_ORACLE_GOLDEN_BYTES = " UNION ALL ".join(
    f"SELECT '{g}' AS case, '{hexval}' AS encoded_hex"
    for g, hexval in sorted(_GOLDEN_HEX.items())
)


def _q_pruned_scan_multi(spark, sf_dir) -> DataFrame:
    """Statistics-based chunk pruning across all three stats families
    (int / string / float vmin-vmax, VERDICT r5 merge): the three
    original pruned-scan gates union into one, harmonized to (family,
    key, n, sum_a, min_v, max_v)."""
    nulld = F.lit(None).cast("double")
    a = _q_pruned_scan(spark, sf_dir).select(
        F.lit("int").alias("family"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("n_long").alias("n"),
        F.col("long_sum").alias("sum_a"),
        nulld.alias("min_v"),
        nulld.alias("max_v"),
    )
    b = _q_pruned_scan_strings(spark, sf_dir).select(
        F.lit("str").alias("family"),
        F.col("source").alias("key"),
        F.col("n_docs").alias("n"),
        F.col("total_tokens").alias("sum_a"),
        nulld.alias("min_v"),
        nulld.alias("max_v"),
    )
    c = _q_pruned_scan_floats(spark, sf_dir).select(
        F.lit("float").alias("family"),
        F.col("event_type").alias("key"),
        F.col("n"),
        F.col("sum_id").alias("sum_a"),
        F.col("min_v"),
        F.col("max_v"),
    )
    return a.unionByName(b).unionByName(c)


def _oracle_pruned_multi() -> str:
    def adapt(family, key_expr, n_expr, sum_expr, min_expr, max_expr, body):
        return (
            f"SELECT '{family}' AS family, {key_expr} AS key, {n_expr} AS n, "
            f"{sum_expr} AS sum_a, {min_expr} AS min_v, {max_expr} AS max_v "
            f"{body}"
        )

    a = adapt(
        "int", "CAST(doc_id AS VARCHAR)", "COUNT(*)",
        "CAST(SUM(CAST(tok AS BIGINT)) AS BIGINT)",
        "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
        "FROM (SELECT doc_id, UNNEST(list_transform(string_split(text, ' '), "
        "w -> length(w))) AS tok FROM documents) WHERE tok >= 8 GROUP BY doc_id",
    )
    b = adapt(
        "str", "source", "COUNT(*)",
        "CAST(SUM(len(string_split(text, ' '))) AS BIGINT)",
        "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
        "FROM documents WHERE source BETWEEN 'src10' AND 'src15' GROUP BY source",
    )
    c = adapt(
        "float", "event_type", "COUNT(*)",
        "CAST(SUM(event_id) AS BIGINT)",
        "ROUND(MIN(value), 6)", "ROUND(MAX(value), 6)",
        "FROM events WHERE value >= 0.5 AND value <= 2.5 GROUP BY event_type",
    )
    return f"{a} UNION ALL {b} UNION ALL {c}"


def _q_textstats_all(spark, sf_dir) -> DataFrame:
    """All per-document text statistics in ONE single-scan projection
    (token counts, quality ratios, language id, positional fingerprint) —
    engine/ops/textstats.all_stats. The pre-r6 shape was four separate
    gates over the same table; at 100 TB that is three needless re-scans,
    so the merged gate IS the recommended production plan, not just a
    slot-saver. It is composed from the SAME expression builders the
    individual operators use, so their logic runs inside this graded
    gate (r6 review #5). The xxhash64-based rolling_fp is dropped here
    because no DuckDB oracle can reproduce Spark's xxhash64 (it never
    had a graded gate; order-sensitivity is pinned by
    test_ops::test_fingerprint_order_sensitive)."""
    from engine.ops import textstats

    _engine(spark)
    docs = _spread(spark, _read(spark, sf_dir, "documents"))
    out = textstats.all_stats(docs).drop("rolling_fp")
    return out.withColumn("doc_id", F.col("doc_id").cast("long"))


def _textstats_oracle() -> str:
    from engine.ops.textstats import STOPWORDS

    score_exprs = []
    for lang in sorted(STOPWORDS):
        stops = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        score_exprs.append(
            f"ROUND(len(list_filter(string_split(lower(text), ' '), "
            f"w -> list_contains([{stops}], w))) "
            f"/ GREATEST(len(string_split(lower(text), ' ')), 1), 6) AS s_{lang}"
        )
    # tie-break mirrors Spark's array_max over (score, lang) structs:
    # lexicographically larger language code wins ties
    return f"""
WITH scored AS (
  SELECT doc_id, {", ".join(score_exprs)} FROM documents
),
lang AS (
  SELECT doc_id,
         CASE WHEN s_fr = g THEN 'fr' WHEN s_es = g THEN 'es'
              WHEN s_en = g THEN 'en' ELSE 'de' END AS lang_pred,
         g AS lang_score
  FROM (SELECT doc_id, s_de, s_en, s_es, s_fr,
               GREATEST(s_de, s_en, s_es, s_fr) AS g FROM scored)
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
       CAST(length(d.text) AS BIGINT) AS n_chars,
       CAST(len(string_split(d.text, ' ')) + CEIL(length(d.text) / 4.0) AS BIGINT)
         AS n_tokens_est,
       CAST(len(regexp_extract_all(d.text,
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS BIGINT)
         AS n_tokens_regex,
       ROUND(length(regexp_replace(d.text, '[^.,;:!?]', '', 'g'))
             / GREATEST(length(d.text), 1), 6) AS punct_ratio,
       ROUND(length(regexp_replace(d.text, '[^0-9]', '', 'g'))
             / GREATEST(length(d.text), 1), 6) AS digit_ratio,
       ROUND(length(regexp_replace(d.text, '[^A-Z]', '', 'g'))
             / GREATEST(length(d.text), 1), 6) AS upper_ratio,
       ROUND((length(d.text) - len(string_split(d.text, ' ')) + 1)
             / GREATEST(len(string_split(d.text, ' ')), 1), 6) AS mean_word_len,
       l.lang_pred,
       l.lang_score,
       CAST(list_sum(list_transform(list_zip(string_split(d.text, ' '),
                range(1, len(string_split(d.text, ' ')) + 1)),
                x -> (length(x[1]) + 1) * x[2])) AS BIGINT) AS pos_fingerprint
FROM documents d JOIN lang l USING (doc_id)
"""


def _q_tpch_q6_q14(spark, sf_dir) -> DataFrame:
    """TPC-H Q6 (pure pushdown filter+agg) and Q14 (broadcast-join
    conditional agg) as one 2-row gate — the two relational showcase
    plans, unchanged, tagged by query."""
    nas = F.lit("n/a")
    q6 = _q_tpch_q6(spark, sf_dir).select(
        F.lit("q6").alias("query"),
        F.col("revenue"),
        nas.alias("extra_revenue"),
        F.col("n_rows"),
    )
    q14 = _q_tpch_q14(spark, sf_dir).select(
        F.lit("q14").alias("query"),
        F.col("promo_revenue").alias("revenue"),
        F.col("total_revenue").alias("extra_revenue"),
        F.col("n_rows"),
    )
    return q6.unionByName(q14)


_ORACLE_TPCH_Q6_Q14 = f"""
SELECT 'q6' AS query, revenue, 'n/a' AS extra_revenue, n_rows
FROM ({_ORACLE_TPCH_Q6})
UNION ALL
SELECT 'q14' AS query, promo_revenue AS revenue,
       total_revenue AS extra_revenue, n_rows
FROM ({_ORACLE_TPCH_Q14})
"""


def _q_knn_ann(spark, sf_dir) -> DataFrame:
    """Both approximate-nearest-neighbor paths (multiprobe LSH, IVF with
    distributed k-means|| training) in one gate, tagged by method; each
    row still pins recall@10 >= its floor vs exact brute force."""
    lsh = _q_knn_lsh(spark, sf_dir).withColumn("method", F.lit("lsh"))
    ivf = _q_knn_ivf(spark, sf_dir).withColumn("method", F.lit("ivf"))
    return lsh.unionByName(ivf)


_ORACLE_KNN_ANN = """
SELECT query_id, CAST(10 AS BIGINT) AS n_exact, true AS meets_floor, m.method
FROM (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 5)
CROSS JOIN (VALUES ('lsh'), ('ivf')) m(method)
"""


def _q_simhash_radii(spark, sf_dir) -> DataFrame:
    """SimHash planted-duplicate recovery at radius 3 (fixed blocks) AND
    radius 5 (generalized pigeonhole split) in one gate, tagged by
    radius."""
    r3 = _q_simhash_planted(spark, sf_dir).withColumn(
        "radius", F.lit(3).cast("long")
    )
    r5 = _q_simhash_pairs(spark, sf_dir).withColumn(
        "radius", F.lit(5).cast("long")
    )
    return r3.unionByName(r5)


_ORACLE_SIMHASH_RADII = """
SELECT doc_id AS id_a, doc_id + 10000000 AS id_b, r.radius
FROM documents
CROSS JOIN (VALUES (CAST(3 AS BIGINT)), (CAST(5 AS BIGINT))) r(radius)
"""


# --------------------------------------------------------------------------
# round-6 gates: repeated (list) columns across the parquet boundary
# --------------------------------------------------------------------------


def _q_parquet_export_nested(spark, sf_dir) -> DataFrame:
    """REPEATED-column writer interop (VERDICT r5 #2): tokens
    array<int32> — this engine's flagship column — plus words
    array<string> written as REAL parquet by engine/parquet_out.py
    (3-level LIST convention, rep/def shredding per reference
    src/column/writer.rs:304-345), plus a STRUCT column (optional group
    with two-level def levels, r6) with deterministic nulls at both the
    struct and the field level — read back by Spark's own JVM reader,
    aggregated and hashed vs DuckDB over the ORIGINAL documents table.
    Green means a plain parquet consumer receives the engine's nested
    token sequences and grouped metadata intact."""
    import numpy as np

    _engine(spark)
    seq = _read(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.sort_array(
            F.transform(F.split("text", " "), lambda w: F.length(w).cast("int"))
        ).alias("tokens"),
        F.split(F.col("text"), " ").alias("words"),
    )

    def cols_fn(tbl, parquet_out):
        import pyarrow.compute as pc

        from engine.codecs import bytearrays

        # rows arrive sorted by doc_id; no list is null
        tokens = tbl["tokens"].combine_chunks()
        words = tbl["words"].combine_chunks()
        n_tok = pc.list_value_length(tokens).to_numpy()
        n_words = pc.list_value_length(words).to_numpy().astype(np.int32)
        t_off = np.concatenate(([0], np.cumsum(n_tok))).astype(np.int64)
        w_off = np.concatenate(([0], np.cumsum(n_words))).astype(np.int64)
        # struct column with nulls at BOTH levels: the struct itself is
        # null on 7|doc_id rows, its width field additionally null on
        # 3|doc_id rows; 'first' is required within the struct
        did = tbl["doc_id"].to_numpy().astype(np.int64)
        sv = (did % 7) != 0
        wvalid = (did % 3) != 0
        firsts = pc.list_element(words.take(np.flatnonzero(sv)), 0)
        return [
            ("doc_id", "int64", "AUTO", did, None),
            ("tokens", "list<int32>", "AUTO",
             (t_off, tokens.flatten().to_numpy().astype(np.int32), None),
             None),
            (
                "words",
                "list<utf8>",
                "AUTO",
                (w_off, bytearrays.flat_from_arrow(words.flatten()), None),
                None,
            ),
            (
                "meta",
                "struct",
                "AUTO",
                [
                    ("width", "int32", "AUTO", n_words, wvalid),
                    ("first", "utf8", "AUTO",
                     bytearrays.flat_from_arrow(firsts), None),
                ],
                sv,
            ),
        ]

    back = spark.read.parquet(*_gate_export(
        seq, "sg_pq_export_nested", sf_dir, cols_fn,
        bucket_key=None, salt_col="doc_id", sort_col="doc_id",
    ))
    pos_wsum = F.aggregate(
        F.zip_with(
            F.col("tokens"),
            F.sequence(F.lit(1), F.size("tokens")),
            lambda t, i: t.cast("long") * i.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )
    return back.select(
        F.col("doc_id").cast("long"),
        F.size("tokens").cast("long").alias("n_tok"),
        F.aggregate(
            "tokens", F.lit(0).cast("long"), lambda a, v: a + v.cast("long")
        ).alias("tok_sum"),
        pos_wsum.alias("tok_wsum"),
        F.size("words").cast("long").alias("n_words"),
        F.element_at("words", 1).alias("first_word"),
        F.element_at("words", -1).alias("last_word"),
        F.col("meta.width").cast("long").alias("m_width"),
        F.col("meta.first").alias("m_first"),
    )


_ORACLE_PARQUET_EXPORT_NESTED = """
WITH toks AS (
  SELECT doc_id, tok,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tok) AS rnk
  FROM (SELECT doc_id, UNNEST(list_transform(string_split(text, ' '),
                                             w -> length(w))) AS tok
        FROM documents)
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_tok,
         CAST(SUM(CAST(tok AS BIGINT)) AS BIGINT) AS tok_sum,
         CAST(SUM(CAST(tok AS BIGINT) * rnk) AS BIGINT) AS tok_wsum
  FROM toks GROUP BY doc_id
)
SELECT d.doc_id, a.n_tok, a.tok_sum, a.tok_wsum,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
       string_split(d.text, ' ')[1] AS first_word,
       string_split(d.text, ' ')[-1] AS last_word,
       CASE WHEN CAST(d.doc_id AS BIGINT) % 7 = 0
                 OR CAST(d.doc_id AS BIGINT) % 3 = 0 THEN NULL
            ELSE CAST(len(string_split(d.text, ' ')) AS BIGINT)
       END AS m_width,
       CASE WHEN CAST(d.doc_id AS BIGINT) % 7 = 0 THEN NULL
            ELSE string_split(d.text, ' ')[1]
       END AS m_first
FROM documents d JOIN agg a USING (doc_id)
"""


def _q_golden_nested_lists(spark, sf_dir) -> DataFrame:
    """REPEATED-column reader interop (VERDICT r5 #3): the reference's
    3-deep nested-list golden file assembled to ROWS by the engine's
    Dremel assembler (parquet_compat.assemble_repeated, reference
    src/record/reader.rs:334-376) through the distributed mapInArrow
    path, rendered as JSON, vs DuckDB's independent reader on the same
    file — null inner lists included."""
    from engine import parquet_compat

    _engine(spark)
    df = parquet_compat.read_parquet_with_engine(
        spark, f"{_GOLDEN_DIR}/nested_lists.snappy.parquet"
    )
    return df.select(
        F.to_json(
            F.col("`a.list.element.list.element.list.element`")
        ).alias("a_json"),
        F.col("b").cast("int").alias("b"),
    )


_ORACLE_GOLDEN_NESTED_LISTS = f"""
SELECT CAST(to_json(a) AS VARCHAR) AS a_json, b
FROM read_parquet('{_GOLDEN_DIR}/nested_lists.snappy.parquet')
"""


def _q_golden_repeated_noannot(spark, sf_dir) -> DataFrame:
    """Legacy repeated-group-without-LIST-annotation golden file (the
    Spark back-compat shape, reference src/record/reader.rs:334-376):
    struct leaves under the repeated group assemble into parallel list
    columns; null phoneNumbers vs empty phone[] vs null kind all
    distinct."""
    from engine import parquet_compat

    _engine(spark)
    df = parquet_compat.read_parquet_with_engine(
        spark, f"{_GOLDEN_DIR}/repeated_no_annotation.parquet"
    )
    return df.select(
        F.col("id").cast("int"),
        F.coalesce(
            F.to_json(F.col("`phoneNumbers.phone.number`")), F.lit("null")
        ).alias("numbers_json"),
        F.coalesce(
            F.to_json(F.col("`phoneNumbers.phone.kind`")), F.lit("null")
        ).alias("kinds_json"),
    )


_ORACLE_GOLDEN_REPEATED_NOANNOT = f"""
SELECT id,
       COALESCE(CAST(to_json(CASE WHEN phoneNumbers IS NULL THEN NULL
           ELSE list_transform(phoneNumbers.phone, x -> x.number) END)
           AS VARCHAR), 'null') AS numbers_json,
       COALESCE(CAST(to_json(CASE WHEN phoneNumbers IS NULL THEN NULL
           ELSE list_transform(phoneNumbers.phone, x -> x.kind) END)
           AS VARCHAR), 'null') AS kinds_json
FROM read_parquet('{_GOLDEN_DIR}/repeated_no_annotation.parquet')
"""


# --------------------------------------------------------------------------
# driver contract
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: auto-selected encode -> decode round-trip aggregation over
    the sf0.001 documents corpus."""
    return _roundtrip_agg(spark, _seq_from_documents(spark, SF0001), None)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Exactly 50 gates — the driver grades only the first 50 registered
    entries (VERDICT r5 finding #1), so round 6 folded same-table,
    same-oracle-shape gates together (golden hex bytes, pruned-scan
    families, textstats, tpch q6+q14, the two ANN paths, the two simhash
    radii) until EVERY operator's gate sits inside the graded window,
    including the parquet-interop, real-media, and new repeated-column
    gates."""
    q: dict[str, Callable] = {}
    for name, (codec, expr) in _RT_CASES.items():
        q[name] = (
            lambda spark, sf_dir, c=codec, e=expr: _roundtrip_agg(
                spark, _seq_from_lineitem(spark, sf_dir, e), c
            )
        )
    q["rt_bitpack_plain"] = _q_rt_bitpack_plain
    q["rt_auto_documents"] = lambda spark, sf_dir: _roundtrip_agg(
        spark, _seq_from_documents(spark, sf_dir), None
    )
    q["golden_encoded_bytes"] = _q_golden_bytes
    q["rt_events_table"] = _q_rt_events_table
    q["rt_nullable_table"] = _q_rt_nullable_table
    q["rt_nan_floats"] = _q_rt_nan_floats
    q["rt_bool_compressed"] = _q_rt_bool_compressed
    q["point_lookup"] = _q_point_lookup
    q["rt_nested_table"] = _q_rt_nested_table
    q["rt_delta_ba_sorted_ids"] = _q_rt_delta_ba_sorted_ids
    q["rt_binary_table"] = _q_rt_binary_table
    q["token_histogram"] = _q_token_histogram
    q["pruned_scan_multi"] = _q_pruned_scan_multi
    q["chunk_plan"] = _q_chunk_plan
    q["chunk_metrics"] = _q_chunk_metrics
    q["dedup_exact"] = _q_dedup_exact
    q["pipeline_end_to_end"] = _q_pipeline_end_to_end
    q["near_dup_verified"] = _q_near_dup_verified
    q["dedup_clusters"] = _q_dedup_clusters
    q["textstats_all"] = _q_textstats_all
    q["knn_bruteforce"] = _q_knn
    q["tpch_q1"] = _q_tpch_q1
    q["tpch_q3"] = _q_tpch_q3
    q["tpch_q6_q14"] = _q_tpch_q6_q14
    q["events_hourly"] = _q_events_hourly
    q["events_hourly_stream"] = _q_events_hourly_stream
    q["top_suppliers_per_nation"] = _q_top_suppliers_per_nation
    q["knn_ann"] = _q_knn_ann
    q["simhash_radii"] = _q_simhash_radii
    q["embedding_dedup_planted"] = _q_embedding_dedup_planted
    q["cli_read"] = _q_cli_read
    q["stream_encode"] = _q_stream_encode
    q["schema_evolution"] = _q_schema_evolution
    q["snapshot_commits"] = _q_snapshot_commits
    q["minhash_pairs"] = _q_minhash_pairs
    q["media_features"] = _q_media_features
    q["media_decode"] = _q_media_decode
    q["media_resize"] = _q_media_resize
    q["media_probe"] = _q_media_probe
    q["golden_file_alltypes"] = _q_golden_alltypes
    q["golden_file_10k_delta"] = _q_golden_10k_delta
    q["golden_file_nested_lists"] = _q_golden_nested_lists
    q["golden_file_repeated_noannot"] = _q_golden_repeated_noannot
    q["parquet_export"] = _q_parquet_export
    q["parquet_export_events"] = _q_parquet_export_events
    q["parquet_export_nested"] = _q_parquet_export_nested
    q["page_pruned_read"] = _q_page_pruned_read
    if len(q) > 50:  # hard error (not assert): survives python -O
        raise RuntimeError(
            f"{len(q)} gates exceed the driver's 50-gate graded window"
        )
    return q


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    for name, (_, expr) in _RT_CASES.items():
        o[name] = _RT_ORACLE_LINEITEM.format(expr=expr)
    o["rt_bitpack_plain"] = _ORACLE_RT_BITPACK_PLAIN
    o["rt_auto_documents"] = _RT_ORACLE_DOCUMENTS
    o["golden_encoded_bytes"] = _ORACLE_GOLDEN_BYTES
    o["rt_events_table"] = _ORACLE_RT_EVENTS
    o["rt_nullable_table"] = _ORACLE_RT_NULLABLE
    o["rt_nan_floats"] = _ORACLE_RT_NAN_FLOATS
    o["rt_bool_compressed"] = _ORACLE_RT_BOOL_COMPRESSED
    o["point_lookup"] = _ORACLE_POINT_LOOKUP
    o["cli_read"] = _ORACLE_CLI_READ
    o["stream_encode"] = _ORACLE_STREAM_ENCODE
    o["schema_evolution"] = _ORACLE_SCHEMA_EVOLUTION
    o["snapshot_commits"] = _ORACLE_SNAPSHOT_COMMITS
    o["rt_nested_table"] = _ORACLE_RT_NESTED
    o["rt_delta_ba_sorted_ids"] = _ORACLE_DELTA_BA
    o["rt_binary_table"] = _ORACLE_RT_BINARY
    o["token_histogram"] = _ORACLE_TOKEN_HISTOGRAM
    o["pruned_scan_multi"] = _oracle_pruned_multi()
    o["chunk_plan"] = _ORACLE_CHUNK_PLAN
    o["chunk_metrics"] = _ORACLE_CHUNK_METRICS
    o["dedup_exact"] = _ORACLE_DEDUP_EXACT
    o["pipeline_end_to_end"] = _ORACLE_PIPELINE
    o["near_dup_verified"] = _ORACLE_NEAR_DUP
    o["dedup_clusters"] = _ORACLE_DEDUP_CLUSTERS
    o["textstats_all"] = _textstats_oracle()
    o["knn_bruteforce"] = _ORACLE_KNN
    o["tpch_q1"] = _ORACLE_TPCH_Q1
    o["tpch_q3"] = _ORACLE_TPCH_Q3
    o["tpch_q6_q14"] = _ORACLE_TPCH_Q6_Q14
    o["events_hourly"] = _ORACLE_EVENTS_HOURLY
    o["events_hourly_stream"] = _ORACLE_EVENTS_HOURLY
    o["top_suppliers_per_nation"] = _ORACLE_TOP_SUPPLIERS
    o["knn_ann"] = _ORACLE_KNN_ANN
    o["simhash_radii"] = _ORACLE_SIMHASH_RADII
    o["minhash_pairs"] = _ORACLE_MINHASH_PAIRS
    o["embedding_dedup_planted"] = _ORACLE_EMB_DEDUP
    # _media_parquet() also ensures the shared file exists before DuckDB
    # reads it, whatever order the driver evaluates the two sides in
    o["media_resize"] = (
        "SELECT media_id, CAST(8 AS INTEGER) AS width, "
        "CAST(8 AS INTEGER) AS height, resized_sha "
        f"FROM read_parquet('{_decodable_media_parquet()}') WHERE kind = 'image'"
    )
    o["media_decode"] = (
        "SELECT media_id, kind, "
        + ", ".join(f"expected_feature[{i + 1}] AS f{i}" for i in range(8))
        + f" FROM read_parquet('{_decodable_media_parquet()}')"
    )
    o["media_features"] = (
        "SELECT media_id, kind, "
        "CAST(octet_length(content) AS BIGINT) AS n_bytes, "
        "sha256(CAST(content AS VARCHAR)) AS content_sha "
        f"FROM read_parquet('{_media_parquet()}')"
    )
    o["media_probe"] = _oracle_media_probe()
    o["golden_file_alltypes"] = _ORACLE_GOLDEN_ALLTYPES
    o["golden_file_10k_delta"] = _ORACLE_GOLDEN_10K
    o["golden_file_nested_lists"] = _ORACLE_GOLDEN_NESTED_LISTS
    o["golden_file_repeated_noannot"] = _ORACLE_GOLDEN_REPEATED_NOANNOT
    o["parquet_export"] = _ORACLE_PARQUET_EXPORT
    o["parquet_export_events"] = _ORACLE_PARQUET_EXPORT_EVENTS
    o["parquet_export_nested"] = _ORACLE_PARQUET_EXPORT_NESTED
    o["page_pruned_read"] = _ORACLE_PAGE_PRUNED
    return o
