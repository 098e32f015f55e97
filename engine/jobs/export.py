"""Resumable distributed export to ENGINE-WRITTEN parquet files.

The chunk store already satisfies the checkpoint-resume contract
(``lineage.encode_with_resume``: a killed job re-runs without re-encoding
finished chunks); this module applies the same contract to the PARQUET
sink. Units are the deterministic buckets the encode planner uses
(``skew.plan_buckets`` — same chunk_id grammar, same skew handling), each
unit writes exactly ONE parquet file whose name is a digest of its
chunk_id, writes go through tmp + atomic rename (a task killed mid-write
never leaves a truncated committed file, and speculative twin attempts
write byte-identical content to unique tmps before racing the idempotent
rename), and a re-run anti-joins the already-committed file list BEFORE
the shuffle — finished units are never re-encoded, re-shuffled, or even
re-read past the scan.

Each unit's ``applyInArrow`` table goes straight to
``parquet_out.write_table``, whose one Dremel shredder writes any
nesting of struct, array and map; validity comes off the Arrow bitmaps,
so NULLs at every level round-trip as real parquet nulls, distinct from
NaN values, with int64 exact. Nullability follows the DataFrame schema,
so every unit file of one export has the same parquet schema.

Reference: the FileSink/write_table half of ``src/file/writer.rs``;
resumability is this engine's north-rule addition (the reference has no
job layer to resume).
"""

from __future__ import annotations

import os
import re
import uuid

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from .. import skew

_MANIFEST_SCHEMA = "chunk_id string, path string, rows long, resumed boolean"

# Spark element types whose lists sort by numeric byte keys
_NUMERIC = ("int", "bigint", "float", "double", "boolean")


def _list_key(arr, dt):
    """Byte sort key for a numeric list column (Arrow cannot sort
    ``list<...>``): each entry is its validity byte then its value as
    native ``dt`` bytes (null elements hold 0), so equal lists get equal
    keys and an element NULL differs from a NaN value; a null row stays a
    null key."""
    import pyarrow as pa
    import pyarrow.compute as pc

    child = arr.flatten()
    entries = np.empty(len(child), [("valid", "u1"), ("value", dt)])
    entries["valid"] = child.is_valid().to_numpy(zero_copy_only=False)
    entries["value"] = (
        child.cast(pa.from_numpy_dtype(dt)).fill_null(0)
        .to_numpy(zero_copy_only=False)
    )
    lengths = pc.list_value_length(arr).fill_null(0)
    offsets = np.concatenate(
        ([0], np.cumsum(lengths.to_numpy(zero_copy_only=False)))
    ).astype(np.int64) * entries.itemsize
    key = pa.LargeBinaryArray.from_buffers(
        pa.large_binary(), len(arr),
        [None, pa.py_buffer(offsets), pa.py_buffer(entries.tobytes())],
    )
    return pc.if_else(arr.is_valid(), key, None)


def export_parquet(
    df: DataFrame,
    out_dir: str,
    cols_fn=None,
    bucket_key: str | None = "source",
    salt_col: str = "doc_id",
    rows_per_bucket: int = skew.DEFAULT_ROWS_PER_BUCKET,
    sort_col: str | None = None,
    resume: bool = True,
    chunk_suffix: str | None = None,
    **write_kwargs,
) -> DataFrame:
    """Write ``df`` as a directory of engine-made parquet files, one per
    deterministic bucket, resumable after a kill.

    Each unit's rows go to :func:`engine.parquet_out.write_table` as a
    ``pyarrow.Table`` of ``df``'s columns, already in file order, with
    the DataFrame's nullability: every column type the writer takes
    (scalars, strings, dates, timestamps and any nesting of struct,
    array and map over them) lands NULL-faithfully. ``cols_fn(tbl,
    parquet_out)`` is only for callers that reshape the unit first; it
    returns what ``write_table`` takes (a table or the tuple spec).
    ``sort_col`` leads the in-file row order (defaults
    to ``salt_col``); every remaining scalar column tie-breaks in one
    Arrow sort (NaN before NULL), then numeric list columns through byte
    keys of their values and element validity, so retried attempts commit
    byte-identical files even under duplicate sort keys (rows
    distinguishable only by a non-numeric list, map or struct are the
    remaining caveat — give such tables a unique ``sort_col``). Extra
    ``write_kwargs`` flow to ``write_table`` (codec, page_size_rows,
    data_page_version, ...).

    Returns the manifest as an INERT (pre-materialized) DataFrame
    ``(chunk_id, path, rows, resumed)`` — one row per unit, safe to act
    on any number of times; the export itself runs exactly once, inside
    this call. ``resumed`` rows were committed by a previous run and
    carry NULL ``rows`` (their payloads were never re-read — the
    resumed-unit list is enumerated from the per-key bucket counts, not
    a second data scan).

    ``chunk_suffix`` scopes unit ids AND file names to a window/
    micro-batch (the streaming sink passes the batch id): resume listing
    and the dead-tmp sweep then consider only this suffix's files, so a
    long-lived stream's cost per batch stays bounded by the batch, and
    concurrent exports into one directory are safe as long as their
    suffixes differ (suffix-less concurrent exports into one directory
    are NOT supported — the tmp sweep assumes it owns the directory)."""
    spark = df.sparkSession
    os.makedirs(out_dir, exist_ok=True)
    clash = {c for c in df.columns if c in ("_fname", "__all")}
    if clash:
        raise ValueError(
            f"input columns {sorted(clash)} collide with export metadata"
        )
    expected = {
        f.name: f.dataType.simpleString()
        for f in df.schema.fields
    }
    out_cols = list(df.columns)
    schema = to_arrow_schema(df.schema)
    if bucket_key is None:
        # no natural key: uniform salted buckets over ONE logical key —
        # unit count = ceil(rows / rows_per_bucket), skew-free by salt
        bucket_key = "__all"
        df = df.withColumn("__all", F.lit("all"))
    elif df.where(F.col(bucket_key).isNull()).limit(1).count():
        # plan_buckets' broadcast join misses NULL keys (they collapse
        # into one unsalted degenerate unit) and the resumed-unit
        # enumeration could not reproduce its id (r7 review pass 7 #2)
        raise ValueError(
            f"export_parquet: bucket_key {bucket_key!r} contains NULLs "
            "— coalesce the key first (e.g. F.coalesce(col, lit('?'))) "
            "or use bucket_key=None for uniform buckets"
        )
    prefix = f"part-{chunk_suffix}-" if chunk_suffix else "part-"

    def _fname_expr():
        return F.concat(
            F.lit(prefix),
            F.substring(F.sha2(F.col("chunk_id"), 256), 1, 32),
            F.lit(".parquet"),
        )

    # this run's OWN file-name shape, exactly: a suffix-less run owns
    # part-<32 hex>.parquet and nothing else, so it neither sweeps a
    # concurrent suffixed stream's live tmps nor lists that stream's
    # committed files as resume candidates (r7 review pass 7 #5)
    own = re.compile(re.escape(prefix) + r"[0-9a-f]{32}\.parquet$")
    for f in os.listdir(out_dir):
        # a tmp present BEFORE the job starts belongs to a dead attempt
        # (live tmps only exist while tasks run) — sweep it; the leading
        # underscore also keeps Hadoop/Spark readers from ever seeing one
        if f.startswith("_tmp-") and own.search(f):
            os.remove(os.path.join(out_dir, f))
    existing = sorted(
        f for f in os.listdir(out_dir) if own.fullmatch(f)
    )
    planned = skew.plan_buckets(
        df, key=bucket_key, salt_col=salt_col,
        rows_per_bucket=rows_per_bucket, chunk_suffix=chunk_suffix,
    ).withColumn("_fname", _fname_expr())
    todo = planned
    ex_df = None
    if resume and existing:
        ex_df = spark.createDataFrame([(f,) for f in existing],
                                      "_fname string")
        # committed units drop BEFORE the shuffle (broadcast anti-join —
        # the encode_with_resume shape): a resumed run never re-encodes,
        # re-shuffles, or carries finished units past the scan
        todo = planned.join(F.broadcast(ex_df), "_fname", "left_anti")
    order = sort_col or salt_col
    # byte determinism: tie-break by EVERY remaining sortable column, then
    # by byte keys of the numeric list columns
    scalar_cols = [
        c for c in out_cols
        if c != order
        and not expected[c].startswith(("array<", "map<", "struct<"))
    ]
    # integer and boolean lists key on exact int64, float lists on float64
    list_key_dt = {
        n: np.float64 if t[6:-1] in ("float", "double") else np.int64
        for n, t in expected.items()
        if t.startswith("array<") and t[6:-1] in _NUMERIC
    }

    def write_one(tbl):
        import pyarrow as pa
        import pyarrow.compute as pc

        from engine import parquet_out

        chunk_id = tbl.column("chunk_id")[0].as_py()
        name = tbl.column("_fname")[0].as_py()
        # deterministic bytes: a speculative/retried attempt must commit
        # IDENTICAL content under the same final name
        keys = [tbl.column(c).combine_chunks() for c in (order, *scalar_cols)]
        keys += [
            _list_key(tbl.column(n).combine_chunks(), dt)
            for n, dt in list_key_dt.items()
        ]
        names = [str(i) for i in range(len(keys))]
        idx = pc.sort_indices(
            pa.Table.from_arrays(keys, names=names),
            sort_keys=[(k, "ascending") for k in names],
        )
        data = tbl.select(out_cols).take(idx).cast(schema)
        path = os.path.join(out_dir, name)
        tmp = os.path.join(out_dir, f"_tmp-{uuid.uuid4().hex}-{name}")
        info = parquet_out.write_table(
            tmp, cols_fn(data, parquet_out) if cols_fn else data,
            **write_kwargs,
        )
        os.replace(tmp, path)
        return pa.table(
            {"chunk_id": [chunk_id], "path": [path],
             "rows": [info["rows"]], "resumed": [False]}
        )

    manifest = todo.groupBy("chunk_id").applyInArrow(
        write_one, _MANIFEST_SCHEMA
    )
    if resume and existing:
        # resumed-unit manifest WITHOUT re-scanning data rows: per-key
        # counts -> bucket_n -> every (key, salt) chunk_id, joined with
        # the committed file list (counts is a column-pruned aggregate;
        # bucket sizing shares skew.bucket_counts with plan_buckets)
        suffix = (
            F.lit(chunk_suffix) if chunk_suffix
            else F.lit(None).cast("string")
        )
        resumed = (
            skew.bucket_counts(df, bucket_key, rows_per_bucket)
            .select(
                F.col(bucket_key),
                F.explode(
                    F.sequence(F.lit(0), F.col("bucket_n") - 1)
                ).alias("_salt"),
            )
            .select(
                skew.chunk_id_expr(
                    F.col(bucket_key), F.col("_salt"), suffix
                ).alias("chunk_id")
            )
            .withColumn("_fname", _fname_expr())
            .join(F.broadcast(ex_df), "_fname")
            .select(
                "chunk_id",
                F.concat(F.lit(out_dir.rstrip("/") + "/"),
                         F.col("_fname")).alias("path"),
                F.lit(None).cast("long").alias("rows"),
                F.lit(True).alias("resumed"),
            )
        )
        manifest = manifest.unionByName(resumed)
    # materialize NOW, in one action: the export must run exactly once,
    # not once per caller action on a lazy plan
    return spark.createDataFrame(manifest.collect(), _MANIFEST_SCHEMA)
