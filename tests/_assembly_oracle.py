"""Differential oracle: Dremel record assembly as the per-entry Python
walk that the engine's foreign-parquet reader used before its one
vectorized any-depth assembler (``parquet_compat.assemble_repeated``).

The bodies are kept as they were. ``_assemble_walk`` takes the leaf
streams of ``read_column_with_levels`` and returns one nested Python list
per record; tests compare ``assemble_repeated(...).to_pylist()`` against it
on arbitrary level shapes.
"""

from __future__ import annotations

import numpy as np


def _leaf_values_list(vals, conv):
    """Dense leaf values -> a Python list the assembler can consume:
    bytes (or str when UTF8-annotated) for byte arrays, Python scalars
    for fixed types."""
    if isinstance(vals, tuple):
        lens, data = vals
        offs = np.concatenate(([0], np.cumsum(np.asarray(lens, np.int64))))
        if conv == 0:  # UTF8
            return [
                bytes(data[offs[i] : offs[i + 1]]).decode()
                for i in range(len(lens))
            ]
        return [bytes(data[offs[i] : offs[i + 1]]) for i in range(len(lens))]
    arr = np.asarray(vals)
    if conv == 13 and arr.dtype == np.int32:
        # UINT_32 rides int32 pages; widen through the unsigned view so
        # repeated-leaf elements above 2^31 surface as positive longs,
        # consistent with the flat path (_materialize_flat; r7 ADVICE #2)
        arr = arr.view(np.uint32).astype(np.int64)
    return arr.tolist()


def _assemble_walk(col: ColumnInfo, vals, defs: np.ndarray,
                   reps: np.ndarray) -> list:
    """The general per-entry Python walk (any nesting depth) — also the
    differential oracle for ``_assemble_rep1`` in tests."""
    nodes = col.nodes
    rep_node_idx = [i for i, nd in enumerate(nodes) if nd["kind"] == "rep"]
    leaf_vals = _leaf_values_list(vals, col.conv)
    max_def = col.max_def
    records: list = []
    open_lists: list = [None] * (len(rep_node_idx) + 1)
    vi = 0
    last = len(nodes) - 1
    for j in range(len(defs)):
        d = int(defs[j])
        r = int(reps[j])
        if r == 0:
            root: list = []
            cur = root
            start = 0
        else:
            cur = open_lists[r]
            start = rep_node_idx[r - 1] + 1
        if start > last:
            # continuation entry of a repeated PRIMITIVE leaf (legacy
            # 2-level shape, e.g. `repeated int32 nums` — r6 review #4):
            # the repeated node IS the leaf, so the walk below has no
            # nodes left and the entry itself is one more element
            if d != max_def:
                raise ValueError(
                    f"{col.path}: def level {d} on a repeated-leaf "
                    f"continuation is not max_def {max_def}"
                )
            cur.append(leaf_vals[vi])
            vi += 1
        for idx in range(start, len(nodes)):
            nd = nodes[idx]
            if nd["kind"] == "rep":
                if d < nd["def"]:
                    cur.append([])
                    break
                new: list = []
                cur.append(new)
                open_lists[nd["rep"]] = new
                cur = new
                if idx == last:
                    # first element of a repeated PRIMITIVE leaf's list
                    if d != max_def:
                        raise ValueError(
                            f"{col.path}: def level {d} opens a repeated "
                            f"leaf but is not max_def {max_def}"
                        )
                    cur.append(leaf_vals[vi])
                    vi += 1
                    break
            else:
                if nd["kind"] == "opt" and d < nd["def"]:
                    cur.append(None)
                    break
                if idx == last:
                    if d != max_def:
                        raise ValueError(
                            f"{col.path}: def level {d} reaches leaf but "
                            f"is not max_def {max_def}"
                        )
                    cur.append(leaf_vals[vi])
                    vi += 1
                    break
        if r == 0:
            records.append(root[0])
    if vi != len(leaf_vals):
        raise ValueError(
            f"{col.path}: assembled {vi} values, stream has {len(leaf_vals)}"
        )
    return records
