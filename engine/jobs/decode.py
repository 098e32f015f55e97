"""Distributed decode job: encoded chunk rows -> original tokenized_sequences.

Spark replay of the reference's read path (``SerializedFileReader ->
get_row_iter``, ``src/file/reader.rs:132-292`` + record assembly
``src/record/reader.rs:378-520``): each ``chunk_id`` group holds one encoded
blob per column; decode is a pure ``applyInArrow`` stage that reverses the
column-chunk framing, verifies checksums, and reassembles rows straight
into Arrow arrays (no pandas hop in any decode path). Token
arrays must come back bit-identical (the round-trip invariant of the
reference's encoding tests, ``src/encodings/encoding.rs:1179-1265``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import chunk

_FIELDS = {
    "doc_id": StructField("doc_id", StringType(), False),
    "tokens": StructField("tokens", ArrayType(IntegerType(), False), False),
    "n_tok": StructField("n_tok", IntegerType(), False),
    "source": StructField("source", StringType(), False),
}
ALL_COLUMNS = list(_FIELDS)
DECODED_SCHEMA = StructType(list(_FIELDS.values()))


def _string_array_from_flat(
    lengths: np.ndarray, data: bytes, valid=None, binary: bool = False
):
    """utf8/binary Arrow array over dense decoded (lengths, data); with
    ``valid`` the dense values scatter to the True slots and the rest are
    NULL (zero-length slots under a validity bitmap, no per-value Python)."""
    import pyarrow as pa

    lengths = np.asarray(lengths, dtype=np.int64)
    validity = None
    if valid is not None:
        valid = np.asarray(valid, dtype=bool)
        full = np.zeros(len(valid), dtype=np.int64)
        full[valid] = lengths
        lengths = full
        validity = pa.py_buffer(np.packbits(valid, bitorder="little"))
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    if offsets[-1] > np.iinfo(np.int32).max:
        # mirrors _list_array's guard: int32 Arrow offsets would wrap and
        # decode silently-corrupt values past 2^31 payload bytes
        raise ValueError(
            "byte-array chunk payload exceeds 2^31 bytes; page the column"
        )
    return pa.Array.from_buffers(
        pa.binary() if binary else pa.utf8(),
        len(lengths),
        [
            validity,
            pa.py_buffer(offsets.astype(np.int32).tobytes()),
            pa.py_buffer(data),
        ],
    )


def _list_array(lengths: np.ndarray, values_pa, record_valid=None):
    """Arrow ListArray from per-record lengths + flat element array —
    zero-copy record assembly (no per-row Python slicing). Null lists ride a
    null offset (pa interprets a null offset as a null list)."""
    import pyarrow as pa

    if record_valid is not None:
        full = np.zeros(len(record_valid), dtype=np.int64)
        full[record_valid] = np.asarray(lengths, dtype=np.int64)
        # a null at offsets[i] (the list's START) marks list i null; the
        # final offset must stay non-null
        mask = np.concatenate((~record_valid, [False]))
    else:
        full = np.asarray(lengths, dtype=np.int64)
        mask = None
    offsets = np.concatenate(([0], np.cumsum(full)))
    if offsets[-1] > np.iinfo(np.int32).max:
        raise ValueError("list chunk exceeds 2^31 elements; page the column")
    if int(offsets[-1]) != len(values_pa):
        # a corrupt frame whose lengths sub-chunk disagrees with the element
        # count must fail cleanly, not assemble out-of-bounds offsets
        raise ValueError(
            f"list chunk lengths sum to {int(offsets[-1])} but "
            f"{len(values_pa)} elements present"
        )
    off_pa = pa.array(offsets.astype(np.int32), type=pa.int32(), mask=mask)
    return pa.ListArray.from_arrays(off_pa, values_pa)


def _unpack_list_chunk(decoded):
    """decode_chunk's LIST result -> (lengths, values, record_valid or None)
    — the one place that knows the container's return shape."""
    if len(decoded) == 3:
        return decoded
    lengths, values = decoded
    return lengths, values, None


def _check_arrow_group_consistent(tbl) -> None:
    """All column rows of one chunk must agree on n_docs — the reference's
    row-group row-count consistency check (src/file/writer.rs:303-313); a
    disagreement means a corrupt or mixed-up store."""
    nd = tbl.column("n_docs").to_numpy(zero_copy_only=False)
    if len(nd) and (nd != nd[0]).any():
        cid = tbl.column("chunk_id")[0].as_py()
        raise ValueError(
            f"chunk {cid!r}: columns disagree on row count "
            f"({sorted(set(int(x) for x in nd))})"
        )


def _decode_group_arrow(tbl, columns: list[str], arrow_schema):
    """Arrow-native chunk decode: one chunk's column rows (a pa.Table)
    -> one decoded pa.Table, assembled with _list_array /
    _string_array_from_flat (guide §4.2)."""
    import pyarrow as pa

    _check_arrow_group_consistent(tbl)
    blobs = dict(
        zip(tbl.column("column").to_pylist(), tbl.column("payload").to_pylist())
    )

    out = {}
    lens_arr = None
    if "n_tok" in blobs:
        lens_arr = chunk.decode_chunk(blobs["n_tok"]).astype(np.int64)
    if "tokens" in columns:
        flat = chunk.decode_chunk(blobs["tokens"])
        out["tokens"] = _list_array(lens_arr, pa.array(flat))
    if "doc_id" in columns:
        out["doc_id"] = _string_array_from_flat(*chunk.decode_chunk(blobs["doc_id"]))
    if "n_tok" in columns:
        out["n_tok"] = pa.array(lens_arr.astype(np.int32))
    if "source" in columns:
        out["source"] = _string_array_from_flat(*chunk.decode_chunk(blobs["source"]))
    return pa.Table.from_arrays([out[c] for c in columns], names=columns).cast(
        arrow_schema
    )


def decode_chunks(chunks_df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Decode chunk rows back into (doc_id, tokens, n_tok, source).

    ``columns``: optional projection — only the requested columns' payloads
    are shuffled and deserialized (the reference's only projection operator
    is ``RowIter`` with a projected schema, ``src/record/reader.rs:588-686``;
    this is its chunk-level equivalent, and the upstream parquet scan of the
    chunk store prunes the payload column reads via Catalyst as usual).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema

    columns = columns or ALL_COLUMNS
    needed = set(columns)
    if "tokens" in needed:
        needed.add("n_tok")  # offsets required to rebuild arrays
    schema = StructType([_FIELDS[c] for c in columns])
    arrow_schema = to_arrow_schema(schema)
    pruned = chunks_df.where(F.col("column").isin(list(needed)))
    return pruned.groupBy("chunk_id").applyInArrow(
        lambda tbl: _decode_group_arrow(tbl, columns, arrow_schema), schema
    )


_AGG_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("n_tok", LongType(), False),
        StructField("tok_sum", LongType(), True),
        StructField("tok_min", LongType(), True),
        StructField("tok_max", LongType(), True),
        StructField("tok_wsum", LongType(), True),
    ]
)


def decode_tokens_agg(chunks_df: DataFrame, colocated: bool = False) -> DataFrame:
    """Decode + per-document aggregate in ONE pass: ``(doc_id, n_tok,
    tok_sum, tok_min, tok_max, tok_wsum)`` with positions ranked by
    ascending token value — the round-trip gate's aggregate contract.

    Equivalent to::

        decode_chunks(chunks).select("doc_id", posexplode("tokens"))
            .groupBy("doc_id").agg(count, sum, min, max, weighted sum)

    but the aggregation happens inside the decode task with numpy
    ``reduceat`` over the flat value stream (guide §2.3: aggregate before
    you shuffle). Every document lives in exactly one chunk (bucketing is
    by doc hash), so the per-chunk aggregates ARE the final aggregates and
    the exploded-token exchange + hash aggregate disappear outright; the
    ``source`` payload is never even shuffled or decoded. Documents with
    zero tokens are absent, exactly like posexplode of an empty array.

    ``colocated=True`` additionally drops the chunk-gathering exchange:
    the caller asserts every chunk's column rows are complete and
    CONTIGUOUS within partitions — true for the direct output of
    ``encode_table``, whose encoder emits each bucket as one batch
    (guide §2.4: the shuffle would only re-establish a co-location the
    rows already have). Spark then pipelines encode and decode+aggregate
    in a single stage. Use the default for chunks read back from storage
    or otherwise re-partitioned.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(_AGG_SCHEMA)
    names = [f.name for f in _AGG_SCHEMA.fields]

    def agg_group(tbl):
        import pyarrow as pa

        _check_arrow_group_consistent(tbl)
        blobs = dict(
            zip(tbl.column("column").to_pylist(), tbl.column("payload").to_pylist())
        )
        missing = sorted({"tokens", "n_tok", "doc_id"} - set(blobs))
        if missing:
            cid = tbl.column("chunk_id")[0].as_py()
            if colocated:
                raise ValueError(
                    f"chunk {cid} incomplete in partition — input not "
                    "co-located; call with colocated=False"
                )
            raise ValueError(f"chunk {cid}: no column rows for {missing}")
        lens = chunk.decode_chunk(blobs["n_tok"]).astype(np.int64)
        flat = np.asarray(chunk.decode_chunk(blobs["tokens"])).astype(np.int64)
        if int(lens.sum()) != flat.size:
            raise ValueError(
                f"list chunk lengths sum to {int(lens.sum())} but "
                f"{flat.size} elements present"
            )
        doc_ids = _string_array_from_flat(*chunk.decode_chunk(blobs["doc_id"]))
        nz = lens > 0
        if not nz.all():
            doc_ids = doc_ids.filter(pa.array(nz))
            lens = lens[nz]
        if lens.size:
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            sums = np.add.reduceat(flat, starts)
            mins = np.minimum.reduceat(flat, starts)
            maxs = np.maximum.reduceat(flat, starts)
            pos = np.arange(flat.size, dtype=np.int64) - np.repeat(starts, lens) + 1
            wsums = np.add.reduceat(flat * pos, starts)
        else:
            sums = mins = maxs = wsums = np.empty(0, np.int64)
        return pa.Table.from_arrays(
            [
                doc_ids,
                pa.array(lens),
                pa.array(sums),
                pa.array(mins),
                pa.array(maxs),
                pa.array(wsums),
            ],
            names=names,
        ).cast(arrow_schema)

    pruned = chunks_df.where(F.col("column").isin(["tokens", "n_tok", "doc_id"]))
    if not colocated:
        return pruned.groupBy("chunk_id").applyInArrow(
            lambda tbl: agg_group(tbl), _AGG_SCHEMA
        )

    from .encode import _chunk_groups

    def agg_stream(batches):
        import pyarrow as pa

        for pending in _chunk_groups(batches):
            tbl = pa.Table.from_batches(pending).combine_chunks()
            yield from agg_group(tbl).to_batches()

    return pruned.mapInArrow(agg_stream, _AGG_SCHEMA)


_SPARK_TYPES = {
    "int32": IntegerType(),
    "int64": LongType(),
    "float32": FloatType(),
    "float64": DoubleType(),
    "bytes": StringType(),
    "binary": BinaryType(),
    "bool": BooleanType(),
}


def _values_array(decoded, kind: str):
    """Decoded flat chunk -> Arrow array with its NULLs restored from the
    def-level validity (NaN stays a value: Arrow keeps the two apart)."""
    import pyarrow as pa

    if kind in ("bytes", "binary"):
        return _string_array_from_flat(*decoded, binary=kind == "binary")
    if isinstance(decoded, tuple):
        vals, valid = decoded
        return pa.array(vals, mask=~valid)
    return pa.array(decoded)


def _spark_type(kind: str):
    """Spark type a generic-table column of ``kind`` decodes to (before
    any logical cast)."""
    from pyspark.sql.types import _parse_datatype_json_string

    if kind.startswith("nested:"):
        return _parse_datatype_json_string(kind[7:])
    if kind.startswith("list:"):
        return ArrayType(_SPARK_TYPES[kind[5:]])
    return _SPARK_TYPES[kind]


def _node_array(decoded, t):
    """Decoded chunk of one node of a list or nested column -> its Arrow
    array of type ``t``, by recursion over ``t``: a list through
    _list_array, a map as the list of its entries viewed as a map, a
    struct from its dense fields (none, for an empty struct) with the NULL
    slots scattered back by one take, a leaf through _values_array and its
    logical type's cast."""
    import pyarrow as pa

    from .encode import physical_type

    if pa.types.is_map(t):
        return _node_array(decoded, pa.list_(t.field(0))).view(t)
    if pa.types.is_list(t):
        lengths, values, record_valid = _unpack_list_chunk(decoded)
        arr = _list_array(lengths, _node_array(values, t.value_type), record_valid)
        return arr if arr.type == t else arr.view(t)
    if pa.types.is_struct(t):
        fields, valid, n_dense = decoded
        if len(fields) != t.num_fields:
            raise ValueError(
                f"struct chunk holds {len(fields)} fields, the column spec {t} "
                f"has {t.num_fields}"
            )
        kids = [_node_array(d, f.type) for d, f in zip(fields, t)]
        arr = pa.Array.from_buffers(t, n_dense, [None], children=kids)
        if valid is None:
            return arr
        return arr.take(pa.array(np.cumsum(valid) - 1, mask=~valid))
    p = physical_type(t)
    arr = _values_array(decoded, "bytes" if pa.types.is_string(p) else str(p))
    return arr if p == t else arr.cast(t)


def _column_array(decoded, kind: str):
    """Decoded chunk of a generic-table column -> its Arrow array."""
    if kind.startswith(("list:", "nested:")):
        from pyspark.sql.pandas.types import to_arrow_type

        return _node_array(decoded, to_arrow_type(_spark_type(kind)))
    return _values_array(decoded, kind)


def decode_table(
    chunks_df: DataFrame, columns: dict, select: list[str] | None = None
) -> DataFrame:
    """Generic decode for any table encoded via ``encode_table`` with a
    ``columns`` spec (name -> (kind, ...)): the inverse of the generic
    ``derive_columns`` path, as a grouped ``applyInArrow`` that rebuilds
    each chunk's columns straight into Arrow arrays. NULL values, NULL lists
    and NULL list elements come back from the def-level sections as Arrow
    validity; NaN stays a value. ``int32_list`` token columns decode through
    the corpus decoder, :func:`decode_chunks`.

    ``select``: optional projection — only the requested columns' payload
    rows are shuffled and deserialized (the generic-table analog of
    ``decode_chunks(columns=...)``; reference ``RowIter`` with a projected
    schema, ``src/record/reader.rs:588-686``). Output columns follow the
    requested order. Schema-evolution safe: a chunk written before EVERY
    requested column existed still contributes its rows (all-NULL), sized
    from a metadata-only scan that never reads payload bytes."""
    if select is not None:
        unknown = [c for c in select if c not in columns]
        if unknown:
            raise ValueError(f"select: unknown columns {unknown}")
        # request order is honored in the output schema (dict comprehension
        # over `select`, matching decode_chunks(columns=...) semantics)
        sub = {k: columns[k] for k in select}
        pruned = chunks_df.where(F.col("column").isin(list(sub)))
        out = decode_table(pruned, sub)
        # chunks with NONE of the requested columns fell out of the groupBy
        # entirely; restore them as all-NULL rows sized by n_docs (Catalyst
        # prunes this scan to (chunk_id, column, n_docs) — no payloads).
        # assert_true enforces the same per-chunk row-count consistency the
        # decode path checks — a corrupt store must not silently fill with
        # max(n_docs)
        orphans = (
            chunks_df.select("chunk_id", "column", "n_docs")
            .groupBy("chunk_id")
            .agg(
                F.max(F.col("column").isin(list(sub))).alias("_has"),
                F.min("n_docs").alias("_ndmin"),
                F.max("n_docs").alias("_ndmax"),
            )
            .where(~F.col("_has") & (F.col("_ndmax") > 0))
            # the check rides INSIDE the consumed expression (a side column
            # holding assert_true would be pruned by Catalyst)
            .withColumn(
                "n_docs",
                F.when(
                    F.col("_ndmin") == F.col("_ndmax"), F.col("_ndmax")
                ).otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit("chunk "),
                            F.col("chunk_id"),
                            F.lit(": columns disagree on row count"),
                        )
                    )
                ),
            )
        )
        null_rows = orphans.select(
            F.explode(F.sequence(F.lit(1), F.col("n_docs"))).alias("_i")
        ).select(
            *[
                F.lit(None).cast(f.dataType).alias(f.name)
                for f in out.schema.fields
            ]
        )
        return out.unionByName(null_rows)
    from pyspark.sql.pandas.types import to_arrow_schema

    fields = []
    for name, spec in columns.items():
        kind = spec[0]
        if kind == "int32_list":
            raise ValueError("list columns: use decode_chunks (corpus decoder)")
        # programmatic StructField: a column name may hold dots, which a
        # DDL string would misparse
        fields.append(StructField(name, _spark_type(kind), True))
    schema = StructType(fields)
    arrow_schema = to_arrow_schema(schema)
    kinds = {name: spec[0] for name, spec in columns.items()}

    logical = {
        name: spec[3]
        for name, spec in columns.items()
        if len(spec) > 3 and spec[3]
    }

    def gen(tbl):
        import pyarrow as pa

        has_n_docs = "n_docs" in tbl.column_names
        if has_n_docs:
            _check_arrow_group_consistent(tbl)
        blobs = dict(
            zip(tbl.column("column").to_pylist(), tbl.column("payload").to_pylist())
        )
        out = []
        for field in arrow_schema:
            if field.name in blobs:
                decoded = chunk.decode_chunk(blobs[field.name])
                out.append(_column_array(decoded, kinds[field.name]))
            elif has_n_docs:
                # schema evolution: chunks written before this column was
                # added decode it as all-NULL (parquet's missing-column
                # semantics); n_docs from the chunk metadata sizes the fill
                out.append(pa.nulls(tbl.column("n_docs")[0].as_py(), field.type))
            else:
                raise KeyError(f"column {field.name} missing and no n_docs metadata")
        return pa.Table.from_arrays(out, schema=arrow_schema)

    out = chunks_df.groupBy("chunk_id").applyInArrow(gen, schema)
    if logical:
        from ..jobs.encode import logical_spec

        for name, kind in logical.items():
            out = out.withColumn(
                name, F.expr(logical_spec(kind)[2].format(c=f"`{name}`"))
            )
    return out


def _pruned_chunk_ids(chunks_df: DataFrame, column: str, lo, hi) -> DataFrame:
    """chunk_ids whose typed [min, max] statistics for ``column`` intersect
    [lo, hi]. The stat family follows the bound type: int -> (vmin, vmax),
    float -> (vmin_d, vmax_d), str -> (vmin_s, vmax_s) — matching the
    reference's per-type Statistics with sort-order rules
    (``src/file/statistics.rs:246-440``).

    NULL stats are ambiguous and must be split, or pruning turns into data
    loss: stats are NULL both when the chunk is all-null for the column
    (safe to drop — no qualifying value can exist) AND when the stat family
    was simply never written (binary columns, or a string bound against a
    numeric column). Only the provably-all-null case drops; otherwise the
    chunk is KEPT and the caller's row-level predicate does the filtering —
    pruning stays transparent (a missed prune costs time, never rows).
    """
    from pyspark.sql import functions as F

    if isinstance(lo, str):
        vmin_c, vmax_c = F.col("vmin_s"), F.col("vmax_s")
    else:
        # numeric bounds work against BOTH families: int columns carry
        # vmin/vmax, float columns vmin_d/vmax_d — coalescing makes a float
        # predicate on an int column prune correctly instead of silently
        # dropping every chunk (the family columns are NULL there)
        vmin_c = F.coalesce(F.col("vmin_d"), F.col("vmin").cast("double"))
        vmax_c = F.coalesce(F.col("vmax_d"), F.col("vmax").cast("double"))
    stats_absent = vmin_c.isNull() | vmax_c.isNull()
    all_null = F.col("null_count") >= F.col("n_docs")
    keep = F.when(stats_absent, ~all_null).otherwise((vmax_c >= lo) & (vmin_c <= hi))
    return (
        chunks_df.where((F.col("column") == column) & keep)
        .select("chunk_id")
        .distinct()
    )


def decode_chunks_pruned(chunks_df: DataFrame, column: str, lo, hi) -> DataFrame:
    """Decode only chunks whose [min, max] statistics for ``column``
    intersect [lo, hi] — the engine-level analog of parquet row-group
    predicate pushdown. The reference carries these statistics in metadata
    for *future* filtering (``src/file/statistics.rs:246-340``, pushdown is
    an unchecked roadmap item, README.md:79); here they actually prune:
    non-qualifying chunks are dropped BEFORE any payload is deserialized.

    The caller still applies the row-level predicate afterwards; pruning is
    transparent (it only skips chunks that can contain no qualifying value).
    """
    from pyspark.sql import functions as F

    keep = _pruned_chunk_ids(chunks_df, column, lo, hi)
    return decode_chunks(chunks_df.join(F.broadcast(keep), "chunk_id", "left_semi"))


def token_histogram(chunks_df: DataFrame, column: str = "tokens") -> DataFrame:
    """(token, n) histogram computed STRAIGHT from encoded chunks: each
    chunk's payload decodes to its flat value stream — no record assembly,
    no offsets, no sibling columns ever touched — and collapses to a local
    (token, count) partial via one numpy unique; Spark's hash aggregate
    merges partials (map-side combinable, shuffle carries distinct tokens
    per chunk, not values). The chunk-store scan reads only this column's
    payload bytes (Catalyst pushes the `column` filter + prunes columns).

    This is the "query over compressed data" pattern: aggregate cost scales
    with chunk count x distinct-per-chunk, independent of corpus row count.
    """
    from pyspark.sql import functions as F

    pruned = chunks_df.where(F.col("column") == column).select("payload")

    def hist(batches):
        import pyarrow as pa

        for rb in batches:
            for blob in rb.column(0).to_pylist():
                info = chunk.read_info(blob)
                if info.dtype == "bytes" or info.codec in ("list", "struct"):
                    raise ValueError(
                        "token_histogram expects numeric flat chunks "
                        f"(got {info.codec}/{info.dtype} for column {column!r})"
                    )
                vals = chunk.decode_chunk(blob)
                if isinstance(vals, tuple):  # nullable chunk: count non-null
                    dense, valid = vals[0], vals[1]
                    vals = np.asarray(dense)[np.asarray(valid, bool)]
                u, c = np.unique(np.asarray(vals), return_counts=True)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(u.astype(np.int64)), pa.array(c.astype(np.int64))],
                    names=["token", "cnt"],
                )

    partial = pruned.mapInArrow(hist, "token long, cnt long")
    return partial.groupBy("token").agg(F.sum("cnt").alias("n"))


def decode_table_pruned(
    chunks_df: DataFrame, columns: dict, column: str, lo, hi,
    select: list[str] | None = None,
) -> DataFrame:
    """Generic-table variant of :func:`decode_chunks_pruned` — string and
    float predicates prune too (vmin_s/vmax_s, vmin_d/vmax_d). ``select``
    composes projection with the pruning: stats rows drive chunk selection,
    then only the requested columns' payloads decode. The predicate column
    is force-included in the selection when absent: pruning is CHUNK-
    granular, so the caller must still apply the row-level predicate — and
    cannot do that without the column (dropping it would silently return
    out-of-range rows from chunks whose stats merely overlap the bound)."""
    from pyspark.sql import functions as F

    if select is not None and column not in select:
        select = [*select, column]
    keep = _pruned_chunk_ids(chunks_df, column, lo, hi)
    return decode_table(
        chunks_df.join(F.broadcast(keep), "chunk_id", "left_semi"),
        columns,
        select=select,
    )


def _leaf_stat_keep(q: tuple):
    """Keep-expression for ONE predicate leaf over a stats row whose
    ``column`` already matches the leaf's: the chunk-store analog of the
    parquet path's row-group pruning, sharing the leaf grammar
    (``parquet_compat._norm_predicates``). Null tests read the always-
    recorded null_count; ranges/comparisons/IN-envelopes read the typed
    stat family with the same NULL-stat split as
    :func:`_pruned_chunk_ids` (all-null drops, never-written keeps).
    Strict > / < sharpen the boundary (vmax == v proves `> v` empty)."""
    from ..parquet_compat import _is_cmp, _is_in_list, _is_null_test

    if _is_null_test(q):
        if q[1] == "isnull":
            return F.col("null_count") > 0
        return F.col("null_count") < F.col("n_docs")

    def _b(v):
        # bool stats are stored as 0/1 ints (encode's vmin/vmax); a raw
        # True bound would compare DOUBLE to BOOLEAN and fail analysis
        return int(v) if isinstance(v, bool) else v

    strict_lo = strict_hi = False
    if _is_cmp(q):
        op, v = q[1], _b(q[2])
        if isinstance(v, float) and v != v:
            return F.lit(False)  # NaN compares false under every op
        lo = v if op in (">=", ">", "==") else None
        hi = v if op in ("<=", "<", "==") else None
        strict_lo, strict_hi = op == ">", op == "<"
    elif _is_in_list(q):
        vals = [_b(v) for v in q[2]
                if not (isinstance(v, float) and v != v)]
        if not vals:
            return F.lit(False)  # all-NaN IN-list matches nothing
        lo, hi = min(vals), max(vals)
    else:
        lo, hi = _b(q[1]), _b(q[2])
        if any(isinstance(b, float) and b != b for b in (lo, hi)):
            return F.lit(False)  # NaN range bound matches nothing
    if isinstance(lo if lo is not None else hi, str):
        vmin_c, vmax_c = F.col("vmin_s"), F.col("vmax_s")
    else:
        vmin_c = F.coalesce(F.col("vmin_d"), F.col("vmin").cast("double"))
        vmax_c = F.coalesce(F.col("vmax_d"), F.col("vmax").cast("double"))
    stats_absent = vmin_c.isNull() | vmax_c.isNull()
    all_null = F.col("null_count") >= F.col("n_docs")
    cond = F.lit(True)
    if lo is not None:
        cond = cond & ((vmax_c > lo) if strict_lo else (vmax_c >= lo))
    if hi is not None:
        cond = cond & ((vmin_c < hi) if strict_hi else (vmin_c <= hi))
    return F.when(stats_absent, ~all_null).otherwise(cond)


def _pruned_chunk_ids_cnf(chunks_df: DataFrame, preds: list) -> DataFrame:
    """chunk_ids surviving a normalized CNF: within an OR-group a chunk
    survives when ANY branch's stats row passes (branches may reference
    different columns), across groups the surviving sets INTERSECT —
    the same union/intersect shape as the parquet path's page spans.
    A chunk with NO stats row for a column decodes as all-NULL rows for
    it (schema evolution, see :func:`decode_table`), so an ``isnull``
    branch additionally keeps every chunk missing its column entirely —
    dropping them would lose exactly the rows IS NULL exists to find."""
    from functools import reduce

    from ..parquet_compat import _is_null_test

    keep = None
    for grp in preds:
        branch = reduce(
            lambda x, y: x | y,
            [(F.col("column") == q[0]) & _leaf_stat_keep(q) for q in grp],
        )
        ids = chunks_df.where(branch).select("chunk_id").distinct()
        for q in grp:
            if _is_null_test(q) and q[1] == "isnull":
                missing = (
                    chunks_df.groupBy("chunk_id")
                    .agg(F.max(F.col("column") == q[0]).alias("_has"))
                    .where(~F.col("_has"))
                    .select("chunk_id")
                )
                ids = ids.unionByName(missing).distinct()
        keep = ids if keep is None else keep.join(ids, "chunk_id")
    return keep


def row_filter_expr(predicate, float_columns=()):
    """The CNF as an exact row-level Spark Column — the residual the
    filtered scan applies after chunk pruning (SQL semantics: NULL fails
    every range/comparison/IN). Column references are backtick-quoted so
    column names holding dots resolve. NaN semantics
    match the parquet residual and the NaN-excluded chunk statistics —
    NaN never matches: NaN bounds/values/members are match-nothing, and
    ``float_columns`` names the DOUBLE/FLOAT columns that need an isnan
    guard on ``>`` / ``>=`` (Spark orders NaN above every value, so an
    unguarded NaN row would match what the stats pruned)."""
    import operator
    from functools import reduce

    from ..parquet_compat import (
        _is_cmp,
        _is_in_list,
        _is_null_test,
        _norm_predicates,
    )

    ops = {">=": operator.ge, ">": operator.gt, "<=": operator.le,
           "<": operator.lt, "==": operator.eq}

    def leaf(q):
        c = F.col(f"`{q[0]}`")
        if _is_null_test(q):
            return c.isNull() if q[1] == "isnull" else c.isNotNull()
        if _is_in_list(q):
            vals = [v for v in q[2]
                    if not (isinstance(v, float) and v != v)]
            return c.isin(vals) if vals else F.lit(False)
        if _is_cmp(q):
            v = q[2]
            if isinstance(v, float) and v != v:
                return F.lit(False)
            e = ops[q[1]](c, v)
            if q[1] in (">", ">=") and q[0] in float_columns:
                e = e & ~F.isnan(c)
            return e
        if any(isinstance(b, float) and b != b for b in (q[1], q[2])):
            return F.lit(False)
        # two-sided ranges need no isnan guard: NaN fails `<= hi`
        return (c >= q[1]) & (c <= q[2])

    groups = [
        reduce(lambda x, y: x | y, [leaf(q) for q in grp])
        for grp in _norm_predicates(predicate)
    ]
    return reduce(lambda x, y: x & y, groups)


def decode_table_filtered(
    chunks_df: DataFrame, columns: dict, predicate,
    select: list[str] | None = None,
) -> DataFrame:
    """Filtered scan over the chunk store with the SAME predicate algebra
    as the parquet reader (``read_table_pruned``): ranges, one-sided
    comparisons, IN-lists, null tests, CNF with OR-groups. Chunks whose
    typed statistics provably cannot hold a qualifying row never
    deserialize (broadcast semi-join on the surviving chunk_ids), and —
    unlike :func:`decode_table_pruned`, whose caller must re-filter —
    the exact row residual is applied here, so callers get precisely the
    WHERE rows. Predicate columns are decoded as needed for the residual
    but dropped from the output unless selected."""
    from ..parquet_compat import _norm_predicates

    preds = _norm_predicates(predicate)
    if not preds:
        raise ValueError("decode_table_filtered needs at least one leaf")
    pred_cols = {q[0] for grp in preds for q in grp}
    unknown = sorted(pred_cols - set(columns))
    if unknown:
        raise ValueError(f"predicate columns not in the table: {unknown}")
    want = select
    need = select
    if select is not None:
        need = [*select, *sorted(pred_cols - set(select))]
    keep = _pruned_chunk_ids_cnf(chunks_df, preds)
    out = decode_table(
        chunks_df.join(F.broadcast(keep), "chunk_id", "left_semi"),
        columns,
        select=need,
    )
    float_cols = {
        name for name, spec in columns.items()
        if spec[0] in ("float32", "float64")
    }
    out = out.where(row_filter_expr(predicate, float_columns=float_cols))
    if want is not None and need != want:
        out = out.select(*[F.col(f"`{c}`") for c in want])
    return out
