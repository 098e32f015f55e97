"""Small-file / row-group compaction (VERDICT r6 #7) — the operational
pain every 100 TB corpus hits: streaming ingests and incremental encode
runs leave thousands of small files whose per-file open/footer/task cost
eventually dominates scans.

Two surfaces, matching the engine's two storage layers:

- ``compact_chunk_store``: rewrites a ChunkStore's many small parquet
  files (one per task per commit) into ~``target_file_bytes`` files.
  Chunk payloads are opaque SGC1 frames — compaction moves rows, never
  re-encodes — and the rewrite publishes as ONE atomic snapshot commit
  (``_publish_snapshot(replace=True)`` pinned to the base version, so a
  racing append aborts the compaction instead of being silently dropped).
  Uses ``coalesce`` (narrow, no shuffle): each output task reads several
  input files sequentially and writes one file.

- ``compact_parquet_files``: merges many engine-written (or any
  footer-compatible) parquet files into few, PRESERVING every encoded
  byte: column chunk byte ranges are copied verbatim (dict pages, mixed
  dict+PLAIN chunks, delta streams, compressed blocks — untouched), the
  PageIndex blobs are carried over with their page offsets shifted, and
  only the footer metadata is rebuilt with relocated offsets. Row groups
  are the atomic unit (the reference's reader also treats them as such:
  ``src/file/reader.rs`` hands out per-row-group readers), bin-packed in
  file order up to ``target_file_bytes`` — the same planner shape as
  ``read_parquet_with_engine``'s split ledger. One Spark task per output
  file; the driver holds only the (path, row-group, bytes) ledger.

The footer rewrite relies on a TYPED thrift-compact round-trip
(``_typed_struct`` below): the generic ``parquet_compat._Reader`` parses
values but drops wire types, which is fine for reading and useless for
re-serialization — the typed parse keeps (field id, compact type, value)
triples that ``parquet_out._Writer`` emits back bytewise-equivalently,
so every footer field this module does not understand (bloom offsets,
key-value metadata, future additions) survives compaction verbatim.
"""

from __future__ import annotations

import copy
import os
import struct
import uuid

from . import parquet_compat as pc
from . import parquet_out as po
from .parquet_compat import (
    _CT_BINARY,
    _CT_BYTE,
    _CT_DOUBLE,
    _CT_FALSE,
    _CT_I16,
    _CT_I32,
    _CT_I64,
    _CT_LIST,
    _CT_SET,
    _CT_STRUCT,
    _CT_TRUE,
)


# --- typed thrift compact round-trip -----------------------------------------


def _typed_value(rd: pc._Reader, ctype: int):
    if ctype in (_CT_TRUE, _CT_FALSE):
        return ctype == _CT_TRUE
    if ctype == _CT_BYTE:
        b = rd.byte()
        return b - 256 if b >= 128 else b
    if ctype in (_CT_I16, _CT_I32, _CT_I64):
        return rd.zigzag()
    if ctype == _CT_DOUBLE:
        (v,) = struct.unpack_from("<d", rd.buf, rd.pos)
        rd.pos += 8
        return v
    if ctype == _CT_BINARY:
        return rd.binary()
    if ctype in (_CT_LIST, _CT_SET):
        head = rd.byte()
        size = head >> 4
        etype = head & 0x0F
        if size == 15:
            size = rd.varint()
        if etype in (_CT_TRUE, _CT_FALSE):
            return (etype, [rd.byte() == 1 for _ in range(size)])
        return (etype, [_typed_value(rd, etype) for _ in range(size)])
    if ctype == _CT_STRUCT:
        return _typed_struct(rd)
    raise ValueError(f"unsupported thrift compact type {ctype} in footer")


def _typed_struct(rd: pc._Reader) -> list:
    """Parse one struct into ordered [(field_id, ctype, value)] triples —
    the exact shape ``parquet_out._Writer.struct`` serializes."""
    out: list = []
    last = 0
    while True:
        head = rd.byte()
        if head == 0:
            return out
        delta = head >> 4
        ctype = head & 0x0F
        fid = last + delta if delta else rd.zigzag()
        last = fid
        out.append((fid, ctype, _typed_value(rd, ctype)))


def _fget(fields: list, fid: int, default=None):
    for f, _, v in fields:
        if f == fid:
            return v
    return default


def _fset(fields: list, fid: int, value, ctype: int | None = None) -> None:
    """Replace field ``fid`` in place (keeping its wire type), or insert
    it in ascending-id position with ``ctype``."""
    for i, (f, t, _) in enumerate(fields):
        if f == fid:
            fields[i] = (f, t, value)
            return
    if ctype is None:
        raise KeyError(f"field {fid} absent and no ctype given")
    at = next((i for i, (f, _, _) in enumerate(fields) if f > fid),
              len(fields))
    fields.insert(at, (fid, ctype, value))


def _fdel(fields: list, fid: int) -> None:
    fields[:] = [f for f in fields if f[0] != fid]


def _read_footer_typed(path: str) -> list:
    """Magic-checked typed parse of one file's FileMetaData (footer-only
    IO, same seek discipline as ``read_file_info``)."""
    with open(path, "rb") as f:
        size = f.seek(0, 2)
        f.seek(size - 8)
        tail = f.read(8)
        if tail[4:] != pc.MAGIC:
            raise ValueError(f"{path}: not a parquet file")
        (flen,) = struct.unpack("<I", tail[:4])
        f.seek(size - 8 - flen)
        footer = f.read(flen)
    return _typed_struct(pc._Reader(footer))


# --- parquet file merge (row groups copied verbatim) --------------------------


def merge_row_groups(units: list, out_path: str) -> dict:
    """Merge ordered ``units = [(path, row_group_ordinal)]`` into ONE
    parquet file at ``out_path``: every column chunk's bytes are copied
    verbatim (encodings, dict pages, compression untouched), PageIndex
    blobs are relocated with their page offsets patched, and the footer
    is rebuilt from the first file's metadata with the new row-group
    list. Write is tmp + atomic rename. Returns {rows, bytes, groups}.

    Raises ValueError when the inputs' schemas differ (field 2 of
    FileMetaData compared structurally)."""
    footers: dict[str, list] = {}
    for p, _ in units:
        if p not in footers:
            footers[p] = _read_footer_typed(p)
    first = footers[units[0][0]]
    schema0 = _fget(first, 2)
    for p, meta in footers.items():
        if _fget(meta, 2) != schema0:
            raise ValueError(f"{p}: schema differs from {units[0][0]}")

    tmp = out_path + f".tmp-{uuid.uuid4().hex}"
    new_groups: list = []
    index_jobs: list = []  # (chunk_fields, src_path, ci, oi, delta)
    total_rows = 0
    with open(tmp, "wb") as out:
        out.write(pc.MAGIC)
        for path, rg_ord in units:
            meta = footers[path]
            rgs = _fget(meta, 4)[1]
            rg = copy.deepcopy(rgs[rg_ord])
            chunks = _fget(rg, 1)[1]
            group_start = None
            with open(path, "rb") as src:
                for chunk in chunks:
                    cm = _fget(chunk, 3)
                    data_off = _fget(cm, 9)
                    dict_off = _fget(cm, 11)
                    start = min(
                        x for x in (dict_off, data_off) if x is not None
                    )
                    length = _fget(cm, 7)  # total_compressed_size
                    new_start = out.tell()
                    if group_start is None:
                        group_start = new_start
                    src.seek(start)
                    remaining = length
                    while remaining:
                        buf = src.read(min(remaining, 8 << 20))
                        if not buf:
                            raise ValueError(
                                f"{path}: chunk bytes truncated at "
                                f"{start + length - remaining}"
                            )
                        out.write(buf)
                        remaining -= len(buf)
                    delta = new_start - start
                    _fset(cm, 9, data_off + delta)
                    if dict_off is not None:
                        _fset(cm, 11, dict_off + delta)
                    if _fget(cm, 10) is not None:  # index_page_offset
                        _fset(cm, 10, _fget(cm, 10) + delta)
                    # bloom filter bytes (fields 14/15) live OUTSIDE the
                    # [start, start+total_compressed) range this merge
                    # copies — a carried-over offset would point a reader
                    # at unrelated bytes and silently drop matching rows
                    # ("definitely absent" from a garbage filter), so the
                    # fields are dropped instead (r7 review #2)
                    _fdel(cm, 14)
                    _fdel(cm, 15)
                    if _fget(chunk, 2) is not None:  # ColumnChunk.file_offset
                        _fset(chunk, 2, _fget(chunk, 2) + delta)
                    ci = (
                        (_fget(chunk, 6), _fget(chunk, 7))
                        if _fget(chunk, 6) is not None
                        else None
                    )
                    oi = (
                        (_fget(chunk, 4), _fget(chunk, 5))
                        if _fget(chunk, 4) is not None
                        else None
                    )
                    for fid in (4, 5, 6, 7):
                        _fdel(chunk, fid)
                    index_jobs.append((chunk, path, ci, oi, delta))
            if _fget(rg, 5) is not None:  # RowGroup.file_offset
                _fset(rg, 5, group_start)
            if _fget(rg, 7) is not None:  # RowGroup.ordinal
                _fset(rg, 7, len(new_groups))
            total_rows += _fget(rg, 3)
            new_groups.append(rg)
        # PageIndex region: all ColumnIndex blobs (verbatim), then all
        # OffsetIndex blobs with every PageLocation.offset shifted —
        # parquet-mr's layout, after the data and before the footer
        for chunk, path, ci, _oi, _delta in index_jobs:
            if ci is None:
                continue
            with open(path, "rb") as src:
                src.seek(ci[0])
                blob = src.read(ci[1])
            _fset(chunk, 6, out.tell(), _CT_I64)
            _fset(chunk, 7, len(blob), _CT_I32)
            out.write(blob)
        for chunk, path, _ci, oi, delta in index_jobs:
            if oi is None:
                continue
            with open(path, "rb") as src:
                src.seek(oi[0])
                blob = src.read(oi[1])
            typed = _typed_struct(pc._Reader(blob))
            etype, locs = _fget(typed, 1)
            for loc in locs:
                _fset(loc, 1, _fget(loc, 1) + delta)
            new_blob = po._tstruct(typed)
            _fset(chunk, 4, out.tell(), _CT_I64)
            _fset(chunk, 5, len(new_blob), _CT_I32)
            out.write(new_blob)
        footer = copy.deepcopy(first)
        _fset(footer, 3, total_rows)
        _fset(footer, 4, (_CT_STRUCT, new_groups))
        fbytes = po._tstruct(footer)
        out.write(fbytes)
        out.write(struct.pack("<I", len(fbytes)))
        out.write(pc.MAGIC)
        nbytes = out.tell()
    os.replace(tmp, out_path)
    return {"rows": total_rows, "bytes": nbytes, "groups": len(new_groups)}


def compact_parquet_files(spark, paths: list, out_dir: str,
                          target_file_bytes: int = 128 * 1024 * 1024) -> list:
    """Distributed small-file compaction for parquet: bin-pack the input
    files' row groups (footer metadata parsed executor-side via the
    reader's shared ledger plan, driver holds only the ledger) and write
    one merged file per bin — one Spark task per output, each a pure
    byte copy via ``merge_row_groups``. Returns the output paths (a
    manifest of SUCCESSFUL tasks, same committed-files-only contract as
    the export gates)."""
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    paths_df = spark.createDataFrame(
        [(p,) for p in paths], "path string"
    ).repartition(len(paths))
    ledger = paths_df.mapInArrow(pc._ledger_plan(), pc.LEDGER_SCHEMA)
    bins = pc.pack_row_group_bins(ledger.collect(), paths, target_file_bytes)

    def write_bin(batches):
        for pdf in batches:
            for i, blob in zip(pdf["bin_id"], pdf["units"]):
                units = [
                    (p, int(r))
                    for p, r in (
                        u.rsplit("#", 1) for u in blob.split("\x1f")
                    )
                ]
                out_path = os.path.join(
                    out_dir, f"compact-{int(i):05d}.parquet"
                )
                res = merge_row_groups(units, out_path)
                yield pd.DataFrame(
                    {
                        "path": [out_path],
                        "rows": [res["rows"]],
                        "bytes": [res["bytes"]],
                        "groups": [res["groups"]],
                    }
                )

    rows = [
        (i, "\x1f".join(f"{p}#{r}" for p, r in b))
        for i, b in enumerate(bins)
    ]
    bins_df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, max(len(rows), 1)),
        "bin_id int, units string",
    )
    manifest = bins_df.mapInPandas(
        write_bin, "path string, rows long, bytes long, groups int"
    ).collect()
    return [r["path"] for r in manifest]


# --- ChunkStore compaction ----------------------------------------------------


def compact_chunk_store(store, target_file_bytes: int = 128 * 1024 * 1024,
                        run_id: str | None = None) -> dict:
    """Rewrite a snapshot-mode ChunkStore's chunk + lineage datasets into
    ~``target_file_bytes`` parquet files and publish the result as ONE
    atomic replacing snapshot. Chunk payload rows move verbatim (SGC1
    frames are opaque — no re-encode); ``coalesce`` keeps the rewrite
    shuffle-free (each output task streams several input files). The
    replace is pinned to the snapshot version observed at plan time: a
    concurrent append raises CommitConflict instead of being dropped.

    Returns {files_before, files_after, version}."""
    import time as _time

    from . import lineage as lin

    if store.table_format != "snapshot":
        raise ValueError(
            "compaction requires a snapshot-mode store (atomic replace); "
            "parquet-append stores have no safe publication point"
        )
    base = store.current_version()
    if base == 0:
        raise FileNotFoundError(f"no snapshot to compact in {store.path}")
    chunk_paths = store._snapshot_paths("chunks")
    lineage_paths = store._snapshot_paths("lineage")

    def _nfiles(dirs):
        return sum(
            1
            for d in dirs
            if os.path.isdir(d)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    def _nbytes(dirs):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d in dirs
            if os.path.isdir(d)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    files_before = _nfiles(chunk_paths)
    commit_dir = uuid.uuid4().hex
    base_dir = os.path.join(store.data_path, commit_dir)
    for kind, srcs in (("chunks", chunk_paths), ("lineage", lineage_paths)):
        df = store.spark.read.parquet(*srcs)
        n_out = max(1, -(-_nbytes(srcs) // target_file_bytes))
        df.coalesce(n_out).write.mode("errorifexists").parquet(
            os.path.join(base_dir, kind)
        )
    run_id = run_id or f"compact-{int(_time.time() * 1000)}"
    version = store._publish_snapshot(
        commit_dir, commit_dir, run_id, replace=True, expected_base=base
    )
    return {
        "files_before": files_before,
        "files_after": _nfiles(store._snapshot_paths("chunks")),
        "version": version,
    }
