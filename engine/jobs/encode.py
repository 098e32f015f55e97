"""Distributed encode job: tokenized_sequences -> encoded column chunks.

The Spark replay of the reference's write path (``SerializedFileWriter ->
write_batch -> close``, ``src/file/writer.rs:119-248`` /
``src/column/writer.rs:204-253``), re-architected for a cluster:

- one shuffle co-locates each deterministic ``chunk_id`` bucket
  (``engine.skew.plan_buckets``) on one task — the row-group boundary;
- rows sort by (chunk_id, doc_id) in Tungsten (``sortWithinPartitions``),
  then a streaming ``mapInArrow`` pass detects bucket boundaries and encodes
  every column with numpy kernels straight off the Arrow buffers (the
  column-chunk write loop, ``src/file/writer.rs:339-357``) — zero per-row
  Python, no pandas sort or materialization, no whole-group shuffle; NULL
  values, lists and list elements come off the Arrow validity bitmaps;
- each column emits one chunk row carrying the ``PageWriteSpec``-equivalent
  metrics (codec, n_values, raw/encoded bytes, crc32 —
  ``src/column/page.rs:151-158``) plus min/max statistics for integer
  columns (the reference's chunk ``Statistics``,
  ``src/file/statistics.rs:246-340``, which it only plans to use for
  pruning — we actually prune, see ``decode.decode_chunks_pruned``) and the
  framed payload;
- rows inside a bucket are sorted by doc_id, so chunk bytes are a pure
  function of the bucket *set*, independent of upstream partitioning — this
  is what makes checkpoint/resume byte-stable.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import chunk, selector, skew
from ..codecs import bytearrays

CHUNK_SCHEMA = StructType(
    [
        StructField("chunk_id", StringType(), False),
        # bucket metadata (persisted so lineage consumers never re-parse
        # chunk_id; point lookups read bucket_n back instead of inferring it)
        StructField("bucket_key", StringType(), True),
        StructField("bucket_salt", IntegerType(), True),
        StructField("bucket_n", IntegerType(), True),
        StructField("bucket_suffix", StringType(), True),
        StructField("column", StringType(), False),
        StructField("codec", StringType(), False),
        StructField("n_values", LongType(), False),
        StructField("n_docs", LongType(), False),
        StructField("raw_bytes", LongType(), False),
        StructField("enc_bytes", LongType(), False),
        StructField("checksum", LongType(), False),
        # typed chunk statistics (reference Statistics carries min/max +
        # null_count for every type with sort-order rules,
        # src/file/statistics.rs:246-440; we carry one column per family and
        # actually prune on them — decode.decode_chunks_pruned*)
        StructField("vmin", LongType(), True),
        StructField("vmax", LongType(), True),
        StructField("vmin_d", DoubleType(), True),
        StructField("vmax_d", DoubleType(), True),
        StructField("vmin_s", StringType(), True),
        StructField("vmax_s", StringType(), True),
        StructField("null_count", LongType(), False),
        # optional per-chunk Bloom filter over this column's values (point-
        # lookup pruning; parquet's column-chunk bloom analog — the
        # reference carries only min/max stats). NULL unless requested via
        # encode_table(bloom_columns=[...]).
        StructField("bloom", BinaryType(), True),
        StructField("payload", BinaryType(), False),
    ]
)

_STAT_TRUNC = 64  # string min/max are truncated like parquet's column index

# column name -> (kind, per-column codec override or None for auto-select)
DEFAULT_COLUMNS = {
    "tokens": ("int32_list", None),
    "n_tok": ("int32", None),
    "doc_id": ("bytes", None),
    "source": ("bytes", "dict_ba"),
}


@functools.cache
def _chunk_arrow_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(CHUNK_SCHEMA)


def _ba_stats(arr) -> tuple[str, str]:
    """(vmin_s, vmax_s) for a NON-NULL Arrow string array.

    Arrow min_max compares UTF-8 bytes == Python code-point order for valid
    UTF-8; truncated like parquet's column-index bounds: a prefix of min is
    still a valid lower bound; for max a bare prefix would be a WRONG upper
    bound, so only truncate when the remaining prefix can be bumped (last
    char < U+10FFFF)."""
    import pyarrow.compute as pc

    mm = pc.min_max(arr)
    vmin_s = str(mm["min"].as_py())[:_STAT_TRUNC]
    mx = str(mm["max"].as_py())
    if len(mx) > _STAT_TRUNC:
        cut = mx[:_STAT_TRUNC]
        nxt = ord(cut[-1]) + 1
        if 0xD800 <= nxt <= 0xDFFF:
            nxt = 0xE000  # never emit a lone surrogate
        if nxt <= 0x10FFFF:
            vmax_s = cut[:-1] + chr(nxt)
        else:
            vmax_s = mx  # cannot bump: keep the exact bound
    else:
        vmax_s = mx
    return vmin_s, vmax_s


def _num_stats(vals: np.ndarray, kind: str) -> dict:
    """min/max statistics of dense values: ints and bools (as 0/1, false <
    true, reference src/file/statistics.rs:246-340) in the integer family,
    floats in the double family. NaN never enters min/max (parquet
    sort-order rule); an all-NaN chunk carries no float stats and the
    pruning keep-on-absent rule retains it."""
    if not vals.size:
        return {}
    if kind in ("float32", "float64"):
        if np.isnan(vals).all():
            return {}
        return {"vmin_d": float(np.nanmin(vals)), "vmax_d": float(np.nanmax(vals))}
    return {"vmin": int(vals.min()), "vmax": int(vals.max())}


def _one_chunk(tbl, name: str, kind: str):
    """Single contiguous Arrow array for ``tbl[name]``. The table arrives
    combine_chunks()ed, so more than one chunk means the bucket's column
    overflowed Arrow's int32 offsets — byte-array data or list child values
    past 2^31 — which the frame format requires paging for."""
    ca = tbl.column(name)
    if ca.num_chunks == 1:
        return ca.chunk(0)
    if ca.num_chunks == 0:
        import pyarrow as pa

        return pa.array([], type=ca.type)
    if kind in ("bytes", "binary"):
        what = "bytes"
    elif kind in ("list:bytes", "list:binary"):
        what = "child values or bytes"
    else:
        what = "child values"
    raise ValueError(
        f"column {name!r} ({kind}): bucket exceeds 2^31 {what}; "
        "page the column (smaller rows_per_bucket)"
    )


def _cast_input(arr, kind: str, col: str):
    """``arr`` as the Arrow type of the scalar ``kind``. Input of another
    type goes through a SAFE cast, so a lossy float->int, a uint64 above
    int64 max or an int64 narrowed to int32 raises instead of wrapping."""
    import pyarrow as pa

    target = pa.from_numpy_dtype(np.dtype(kind))
    if arr.type == target:
        return arr
    try:
        return arr.cast(target, safe=True)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError) as e:
        raise ValueError(
            f"column {col!r}: {arr.type} values do not fit {kind} "
            f"(lossy or out of range cast): {e}"
        ) from e


def _shred(arr):
    """(non-null values, validity mask or None, null_count) straight off the
    Arrow validity bitmap — the reference's nullable write shape, dense
    values plus def levels (src/column/writer.rs:304-322). NaN is a value,
    never a null."""
    null_count = arr.null_count
    if not null_count:
        return arr, None, 0
    valid = ~arr.is_null().to_numpy(zero_copy_only=False)
    return arr.drop_null(), valid, null_count


def _numpy(arr, kind: str) -> np.ndarray:
    return np.ascontiguousarray(arr.to_numpy(zero_copy_only=False), dtype=kind)


def physical_type(t):
    """The Arrow type a nested leaf's values ride in a chunk: dates as int32
    days, timestamps as int64 ticks, decimals as their exact decimal string
    (the top-level columns' logical types, converted at the Arrow boundary
    instead of in SQL); any other leaf as itself."""
    import pyarrow as pa

    if pa.types.is_date32(t):
        return pa.int32()
    if pa.types.is_timestamp(t):
        return pa.int64()
    if pa.types.is_decimal(t):
        return pa.string()
    return t


def _leaf(arr, col: str, kind: str | None):
    """A leaf node -> (dense values, chunk dtype, validity or None, stats);
    ``kind`` forces the element kind of a ``list:<kind>`` column."""
    import pyarrow as pa

    p = physical_type(arr.type)
    if p != arr.type:
        arr = arr.cast(p)
    if kind is None:  # numpy's name for a fixed-width leaf, else byte arrays
        t = arr.type
        kind = "bytes"
        if pa.types.is_primitive(t):
            kind = np.dtype(t.to_pandas_dtype()).name
    if kind in ("bytes", "binary"):
        dense, valid, _ = _shred(arr)
        return bytearrays.flat_from_arrow(dense), "bytes", valid, {}
    dense, valid, _ = _shred(_cast_input(arr, kind, col))
    values = _numpy(dense, kind)
    return values, kind, valid, {} if kind == "bool" else _num_stats(values, kind)


def _is_nested(t) -> bool:
    import pyarrow as pa

    return pa.types.is_struct(t) or pa.types.is_list(t) or pa.types.is_map(t)


def _encode_node(arr, col: str, kind: str | None = None):
    """One Arrow node of a list or nested column -> (framed chunk, stats).
    A list is a LIST frame over its elements (lengths and flat child lifted
    from the ListArray buffers, Dremel record shredding, reference
    src/record/reader.rs:159-240), a map the LIST of its (key, value)
    entries, a struct a STRUCT frame over its non-null slots, a leaf a value
    chunk. Record and element nulls come off the validity bitmaps. Numeric
    leaf statistics pass up through lists."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = arr.type
    if pa.types.is_map(t):
        arr = arr.view(pa.list_(t.field(0)))
    elif not _is_nested(t):
        values, elem, valid, stats = _leaf(arr, col, kind)
        codec = chunk.auto_codec(values, elem)
        return chunk.encode_chunk(values, codec, elem, valid=valid), stats
    dense, valid, _ = _shred(arr)
    if pa.types.is_struct(t):
        kids = [_encode_node(c, col)[0] for c in dense.flatten()]
        return chunk.encode_chunk_struct(kids, len(dense), valid), {}
    lengths = pc.list_value_length(dense).to_numpy(zero_copy_only=False)
    child = dense.flatten()
    if _is_nested(child.type):
        blob, stats = _encode_node(child, col)
        return chunk.encode_chunk_list(lengths, blob, valid=valid), stats
    values, elem, elem_valid, stats = _leaf(child, col, kind)
    blob = chunk.encode_chunk_list(
        lengths, values, elem, valid=valid, elem_valid=elem_valid
    )
    return blob, stats


def _encode_column(arr, col: str, spec, bloom: bool):
    """One column of one bucket -> (codec, framed blob, null_count, stats,
    bloom blob or None)."""
    kind, override = spec[0], spec[1]
    # optional third element: candidate codec set (WriterProperties
    # dictionary toggles narrow it, reference set_dictionary_enabled)
    candidates = spec[2] if len(spec) > 2 and spec[2] else None
    if kind == "int32_list":
        if arr.null_count:
            raise ValueError(
                f"column {col}: NULL token arrays are not part of the "
                "corpus contract; use the generic list:<kind> path for "
                "nullable lists"
            )
        child = _cast_input(arr.flatten(), "int32", col)
        if child.null_count:
            raise ValueError(
                f"column {col}: NULL token elements are not part of the "
                "corpus contract; use list:int32 for lists with NULL elements"
            )
        flat = _numpy(child, "int32")
        if override is None and flat.size > chunk.DEFAULT_PAGE_VALUES:
            # oversized stream: page it so codec choice tracks regime
            # shifts and decode memory stays bounded (reference page
            # cutting, src/column/writer.rs:407-410)
            codec = "paged"
            blob = chunk.encode_chunk_paged(flat, "int32")
        else:
            codec, _, _ = selector.select_codec(
                flat,
                override=override,
                candidates=candidates or selector.INT_CANDIDATES,
            )
            blob = chunk.encode_chunk(flat, codec, "int32")
        return codec, blob, 0, _num_stats(flat, "int32"), None
    if kind in ("bytes", "binary"):
        dense, valid, null_count = _shred(arr)
        lengths, data = bytearrays.flat_from_arrow(dense)
        bloom_blob = None
        if bloom:
            from .. import bloom as bloom_mod

            bloom_blob = bloom_mod.build(lengths, data)
        codec = selector.select_ba_codec(lengths, data, override=override)
        if candidates and codec not in candidates:
            codec = "delta_length_ba"
        blob = chunk.encode_chunk((lengths, data), codec, "bytes", valid=valid)
        stats = {}
        if len(dense) and kind == "bytes":
            stats = dict(zip(("vmin_s", "vmax_s"), _ba_stats(dense)))
        return codec, blob, null_count, stats, bloom_blob
    if kind.startswith(("list:", "nested:")):
        elem = kind[5:] if kind.startswith("list:") else None
        blob, stats = _encode_node(arr, col, elem)
        return chunk.read_info(blob).codec, blob, arr.null_count, stats, None
    if kind in ("int32", "int64", "float32", "float64", "bool"):
        dense, valid, null_count = _shred(_cast_input(arr, kind, col))
        vals = _numpy(dense, kind)
        if kind == "bool":
            codec = selector.select_bool_codec(vals, override=override)
        elif kind in ("float32", "float64"):
            codec = selector.select_float_codec(vals, override=override)
        else:
            codec, _, _ = selector.select_codec(
                vals,
                override=override,
                candidates=candidates or selector.INT_CANDIDATES,
            )
        blob = chunk.encode_chunk(vals, codec, kind, valid=valid)
        return codec, blob, null_count, _num_stats(vals, kind), None
    raise ValueError(f"unknown column kind {kind}")


def _encode_group_arrow(
    tbl,
    columns: dict,
    block_codec: str | None = None,
    bloom_cols: frozenset = frozenset(),
):
    """Encode one bucket held as a (combined) Arrow table whose rows are
    already sorted -> one RecordBatch of chunk rows. Every column is read
    straight off its Arrow buffers and validity bitmaps (guide §4.2: hand
    whole Arrow batches to vectorized kernels). ``block_codec``: optional
    block compression stacked over every chunk payload
    (WriterProperties.compression; the reference compresses encoded page
    bytes the same way)."""
    import pyarrow as pa

    names = set(tbl.column_names)
    chunk_id = tbl.column("chunk_id")[0].as_py()
    meta = {
        c: (tbl.column(c)[0].as_py() if c in names else None)
        for c in skew.BUCKET_META_COLS
    }
    rows = []
    for col, spec in columns.items():
        codec, blob, null_count, stats, bloom_blob = _encode_column(
            _one_chunk(tbl, col, spec[0]), col, spec, col in bloom_cols
        )
        if block_codec:
            blob = chunk.compress_chunk(blob, block_codec)
        info = chunk.read_info(blob)
        rows.append(
            {
                "chunk_id": chunk_id,
                **meta,
                "column": col,
                "codec": codec,
                "n_values": info.n_values,
                "n_docs": tbl.num_rows,
                "raw_bytes": info.raw_bytes,
                "enc_bytes": info.enc_bytes,
                "checksum": info.checksum,
                **stats,
                "null_count": null_count,
                "bloom": bloom_blob,
                "payload": blob,
            }
        )
    schema = _chunk_arrow_schema()
    return pa.RecordBatch.from_arrays(
        [pa.array([r.get(f.name) for r in rows], type=f.type) for f in schema],
        schema=schema,
    )


class ColumnSpec(tuple):
    """(kind, override, candidates, logical) — tuple-compatible with the
    legacy (kind, override) pairs used throughout. ``logical`` annotates the
    physical kind the way the reference's converted types ride physical types
    (DATE on INT32, TIMESTAMP_MICROS on INT64 — src/basic.rs:87-104)."""

    def __new__(cls, kind, override=None, candidates=None, logical=None):
        return super().__new__(cls, (kind, override, candidates, logical))

    def __getnewargs__(self):
        # tuple subclasses otherwise unpickle as cls((k, o, c, l)) — the whole
        # tuple lands in ``kind`` and executors see an unknown column kind
        return tuple(self)

    @property
    def logical(self):
        return self[3]


# logical type -> (physical kind, encode cast, decode cast)
_LOGICAL = {
    "date": ("int32", "unix_date({c})", "date_from_unix_date({c})"),
    "timestamp": ("int64", "unix_micros({c})", "timestamp_micros({c})"),
    "timestamp_ntz": (
        "int64",
        "unix_micros(cast({c} as timestamp))",
        "cast(timestamp_micros({c}) as timestamp_ntz)",
    ),
}


def _decimal_logical(p: int, s: int):
    """DECIMAL(p<=18, s) rides int64 as the unscaled value — exactly the
    reference's int32/int64-backed Decimal (src/data_type.rs:144-235,
    src/basic.rs:74-85). Conversions stay in decimal arithmetic end to end
    (a double round-trip would corrupt high-precision values)."""
    enc = f"cast({{c}} * cast({10**s} as decimal(38,0)) as long)"
    dec = f"cast(cast({{c}} as decimal(38,0)) / cast({10**s} as decimal(38,0)) as decimal({p},{s}))"
    return ("int64", enc, dec)


def derive_columns(df: DataFrame) -> dict:
    """Generic schema -> encode spec: any table becomes encodable (the
    "switch your table to this engine" path). DATE/TIMESTAMP columns are
    annotated logical types riding int32 days / int64 micros — the engine
    casts on encode and restores the original type on decode (the reference's
    converted-type mechanism, src/basic.rs:56-146). An array of scalars is a
    ``list:<kind>`` column; any other struct, map or array column is
    ``nested:<its Spark type as JSON>``, whose leaves may be any type a
    top-level column may be."""
    from pyspark.sql import types as T

    mapping = {
        T.IntegerType(): "int32",
        T.LongType(): "int64",
        T.FloatType(): "float32",
        T.DoubleType(): "float64",
        T.StringType(): "bytes",
        T.BinaryType(): "binary",  # BYTE_ARRAY on the wire, BinaryType back
        T.BooleanType(): "bool",
    }
    logical_map = {
        T.DateType(): "date",
        T.TimestampType(): "timestamp",
        T.TimestampNTZType(): "timestamp_ntz",
    }

    def check_leaves(dt, path: str) -> None:
        if isinstance(dt, T.StructType):
            for sub in dt.fields:
                check_leaves(sub.dataType, f"{path}.{sub.name}")
        elif isinstance(dt, T.ArrayType):
            check_leaves(dt.elementType, f"{path}.element")
        elif isinstance(dt, T.MapType):
            check_leaves(dt.keyType, f"{path}.key")
            check_leaves(dt.valueType, f"{path}.value")
        elif not (
            dt in mapping or dt in logical_map or isinstance(dt, T.DecimalType)
        ):
            raise ValueError(f"column {path}: {dt} not encodable; cast first")

    out = {}
    for f in df.schema.fields:
        if isinstance(f.dataType, T.ArrayType) and f.dataType.elementType in mapping:
            # generic list of scalars -> LIST container chunks (lengths
            # sub-chunk + element sub-chunk; Dremel record shredding,
            # reference src/record/reader.rs:159-240)
            out[f.name] = ColumnSpec(f"list:{mapping[f.dataType.elementType]}")
        elif f.dataType in mapping:
            out[f.name] = ColumnSpec(mapping[f.dataType])
        elif f.dataType in logical_map:
            logical = logical_map[f.dataType]
            out[f.name] = ColumnSpec(_LOGICAL[logical][0], logical=logical)
        elif isinstance(f.dataType, T.DecimalType) and f.dataType.precision <= 18:
            logical = f"decimal({f.dataType.precision},{f.dataType.scale})"
            _LOGICAL.setdefault(
                logical, _decimal_logical(f.dataType.precision, f.dataType.scale)
            )
            out[f.name] = ColumnSpec("int64", logical=logical)
        elif isinstance(f.dataType, T.DecimalType):
            # p > 18: unscaled value exceeds int64; ride BYTE_ARRAY as the
            # exact decimal string (reference byte-array-backed Decimal,
            # src/data_type.rs:144-235). String<->decimal casts are exact.
            p, s = f.dataType.precision, f.dataType.scale
            logical = f"decimal_str({p},{s})"
            _LOGICAL.setdefault(
                logical,
                ("bytes", "cast({c} as string)", f"cast({{c}} as decimal({p},{s}))"),
            )
            out[f.name] = ColumnSpec("bytes", logical=logical)
        elif isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType)):
            check_leaves(f.dataType, f.name)
            out[f.name] = ColumnSpec("nested:" + f.dataType.json())
        else:
            raise ValueError(
                f"column {f.name}: {f.dataType} not encodable; cast first"
            )
    return out


import re as _re

_DECIMAL_LOGICAL_RE = _re.compile(r"^(decimal|decimal_str)\((\d+),(\d+)\)$")


def logical_spec(logical: str):
    """Resolve a logical-type name to (physical kind, encode cast, decode
    cast). Decimal forms are re-derived from the name itself so a fresh
    process decoding a persisted columns spec never depends on having run
    derive_columns first (the registry is a cache, not a requirement)."""
    spec = _LOGICAL.get(logical)
    if spec is not None:
        return spec
    m = _DECIMAL_LOGICAL_RE.match(logical)
    if m is None:
        raise KeyError(f"unknown logical type {logical!r}")
    kind, p, s = m.group(1), int(m.group(2)), int(m.group(3))
    if kind == "decimal":
        spec = _decimal_logical(p, s)
    else:
        spec = ("bytes", "cast({c} as string)", f"cast({{c}} as decimal({p},{s}))")
    _LOGICAL[logical] = spec
    return spec


def apply_logical_casts(df: DataFrame, columns: dict) -> DataFrame:
    """Cast logical-typed columns to their physical representation
    (column refs backtick-quoted: a column name may hold '.')."""
    for name, spec in columns.items():
        logical = spec[3] if len(spec) > 3 else None
        if logical:
            df = df.withColumn(
                name, F.expr(logical_spec(logical)[1].format(c=f"`{name}`"))
            )
    return df


def encode_table(
    df: DataFrame,
    columns: dict | None = None,
    rows_per_bucket: int = skew.DEFAULT_ROWS_PER_BUCKET,
    skip_chunk_ids: DataFrame | None = None,
    props=None,
    chunk_suffix: str | None = None,
    bucket_key: str = "source",
    salt_col: str = "doc_id",
    sort_col: str | None = None,
    bloom_columns: list[str] | None = None,
) -> DataFrame:
    """Encode a tokenized_sequences DataFrame into chunk rows.

    ``skip_chunk_ids``: single-column (chunk_id) DataFrame of already-committed
    chunks (checkpoint resume) — anti-joined *before* the encode shuffle so
    resumed runs never re-encode or even re-shuffle finished buckets.
    ``props``: optional :class:`engine.properties.WriterProperties` — supplies
    rows_per_bucket, per-column encoding overrides and dictionary toggles
    (column > global precedence, reference src/file/properties.rs:154-160).
    ``bloom_columns``: byte-array columns to attach a per-chunk Bloom filter
    to (point-lookup pruning — see ``engine.bloom``; ``lineage.lookup_docs``
    consults it automatically).
    """
    if columns is None:
        names = set(df.columns)
        columns = (
            dict(DEFAULT_COLUMNS)
            if set(DEFAULT_COLUMNS) <= names
            else derive_columns(df)
        )
    else:
        columns = dict(columns)
    sort_col = sort_col or (salt_col if salt_col in columns else next(iter(columns)))
    bloom_cols = frozenset(bloom_columns or ())
    for b in bloom_cols:
        if b not in columns or columns[b][0] not in ("bytes", "binary"):
            raise ValueError(
                f"bloom_columns: {b!r} must be a bytes/binary column "
                f"(got {columns.get(b, ('absent',))[0]})"
            )
    df = apply_logical_casts(df, columns)
    block_codec = None
    if props is not None:
        rows_per_bucket = props.rows_per_bucket
        block_codec = props.compression
        from .. import selector as _sel

        for col, spec in list(columns.items()):
            kind = spec[0]
            override = props.encoding_for(col) or spec[1]
            cands = None
            if not props.dict_enabled_for(col):
                cands = (
                    ("plain_ba", "delta_length_ba", "delta_ba", "fsst")
                    if kind in ("bytes", "binary")
                    else tuple(c for c in _sel.INT_CANDIDATES if c != "dict")
                )
            columns[col] = ColumnSpec(
                kind, override, cands, spec[3] if len(spec) > 3 else None
            )
    bucketed = skew.plan_buckets(
        df,
        key=bucket_key,
        salt_col=salt_col,
        rows_per_bucket=rows_per_bucket,
        chunk_suffix=chunk_suffix,
    )
    if skip_chunk_ids is not None:
        bucketed = bucketed.join(
            F.broadcast(skip_chunk_ids.select("chunk_id").distinct()),
            "chunk_id",
            "left_anti",
        )
    # mapInArrow resolves its input columns with df[name], which reads a
    # '.' as struct access: data columns cross it under positional aliases
    # and get their names back per bucket (plan_buckets already rejected
    # inputs named like the meta columns)
    alias = {c: f"_c{i}" for i, c in enumerate(columns)}
    names = ["chunk_id", *skew.BUCKET_META_COLS, *columns]
    cols = [
        "chunk_id",
        *skew.BUCKET_META_COLS,
        *[F.col(f"`{c}`").alias(a) for c, a in alias.items()],
    ]

    def encode_stream(batches):
        """Streaming bucket encoder over (chunk_id, doc_id)-sorted Arrow
        batches: buckets are contiguous, so one pass with boundary detection
        replaces the groupBy materialization, the sort happened JVM-side, and
        the data never detours through pandas (guide §4.2)."""
        import pyarrow as pa

        for pending in _chunk_groups(batches):
            tbl = pa.Table.from_batches(pending).combine_chunks()
            yield _encode_group_arrow(
                tbl.rename_columns(names), columns, block_codec, bloom_cols
            )

    # one shuffle: co-locate buckets, sort (chunk_id, doc_id) in Tungsten,
    # then a pure partition-parallel mapInArrow encode pass
    return (
        bucketed.select(*cols)
        .repartition(F.col("chunk_id"))
        .sortWithinPartitions(
            F.col("chunk_id"), F.col(alias.get(sort_col, f"`{sort_col}`"))
        )
        .mapInArrow(encode_stream, CHUNK_SCHEMA)
    )


def _chunk_groups(batches):
    """Yield lists of RecordBatch slices, one list per contiguous
    ``chunk_id`` group (a group may span Arrow batch boundaries inside the
    partition — the sort guarantees contiguity, not batch alignment)."""
    pending: list = []
    cur = None
    for rb in batches:
        if rb.num_rows == 0:
            continue
        ids = rb.column(
            rb.schema.get_field_index("chunk_id")
        ).to_numpy(zero_copy_only=False)
        change = np.flatnonzero(ids[1:] != ids[:-1]) + 1
        bounds = [0, *change.tolist(), rb.num_rows]
        for i in range(len(bounds) - 1):
            cid = ids[bounds[i]]
            if cur is not None and cid != cur and pending:
                yield pending
                pending = []
            cur = cid
            pending.append(rb.slice(bounds[i], bounds[i + 1] - bounds[i]))
    if pending:
        yield pending

