"""FSST: Fast Static Symbol Table compression for string-like byte streams.

From the published paper (Boncz, Neumann, Freitag — "FSST: Fast Random Access
String Compression", VLDB 2020). NOT present in the reference repo (its string
codecs are DELTA_LENGTH/DELTA_BYTE_ARRAY, ``src/encodings/encoding.rs:796-952``);
FSST is required by the north rule for string-like byte streams.

Design (simplified but faithful):
- a static table of up to 255 symbols, each 1-8 bytes; code 255 = escape
  (the next byte is a literal);
- table built greedily from a sample: candidate n-grams scored by
  gain = count * (len - 1) (a symbol emits 1 byte instead of len);
- encoding is greedy longest-match. Vectorized: per-position longest match
  via uint64 window hashing + searchsorted, then the sequential greedy walk
  is resolved with pointer doubling (O(n log n) numpy, zero per-byte Python);
- matches never cross value boundaries so the flat (lengths, data) form
  round-trips exactly.

Payload layout::

    u8 n_symbols | n_symbols x u8 sym_len | concat symbol bytes
    u32 lens_enc_len | DELTA_BINARY_PACKED(original value lengths)
    code stream
"""

from __future__ import annotations

import numpy as np

from . import bitpack, delta_for

ESCAPE = 255
MAX_SYMBOLS = 255
MAX_SYM_LEN = 8
_SAMPLE_CAP = 1 << 20


def _window_keys(data: np.ndarray) -> np.ndarray:
    """uint64 key of the 8-byte window at each position (little-endian packing:
    byte at offset j contributes << (8*j)); data is zero-padded at the end."""
    n = len(data)
    padded = np.zeros(n + MAX_SYM_LEN, dtype=np.uint8)
    padded[:n] = data
    w = np.lib.stride_tricks.sliding_window_view(padded, MAX_SYM_LEN)[:n]
    weights = (np.uint64(1) << (np.arange(MAX_SYM_LEN, dtype=np.uint64) * np.uint64(8)))
    return (w.astype(np.uint64) * weights[None, :]).sum(axis=1, dtype=np.uint64)


def build_table(sample: bytes | np.ndarray, lengths: np.ndarray | None = None, refine_rounds: int = 2) -> list[bytes]:
    """Greedy symbol table from a byte sample; returns <=255 symbols (1-8 bytes)."""
    data = np.frombuffer(sample, np.uint8) if not isinstance(sample, np.ndarray) else sample
    data = data[:_SAMPLE_CAP]
    n = len(data)
    if n == 0:
        return []
    keys = _window_keys(data)
    candidates: dict[bytes, int] = {}
    # single bytes: gain = count * 1 (1-byte code instead of 2-byte escape)
    vals, counts = np.unique(data, return_counts=True)
    for v, c in zip(vals, counts):
        candidates[bytes([int(v)])] = int(c)
    # n-grams of length 2..8, scored by count * (len-1)
    for L in (2, 3, 4, 5, 6, 8):
        if n < L:
            continue
        mask = np.uint64((1 << (8 * L)) - 1) if L < 8 else np.uint64(0xFFFFFFFFFFFFFFFF)
        sub = keys[: n - L + 1] & mask
        u, c = np.unique(sub, return_counts=True)
        top = np.argsort(c)[::-1][:400]
        for k, cnt in zip(u[top], c[top]):
            if cnt < 4:
                continue
            sym = int(k).to_bytes(8, "little")[:L]
            gain = int(cnt) * (L - 1)
            if candidates.get(sym, 0) < gain:
                candidates[sym] = gain
    ranked = sorted(candidates.items(), key=lambda kv: -kv[1])
    table = [s for s, _ in ranked[:MAX_SYMBOLS]]
    if refine_rounds:
        table = _refine_table(table, data, refine_rounds, lengths)
    return table


def _refine_table(table: list[bytes], data: np.ndarray, rounds: int,
                  lengths: np.ndarray | None = None) -> list[bytes]:
    """Iterative refinement (the paper's bottom-up table evolution): encode
    the sample with the current table, score symbols by *realized* gain and
    promote concatenations of frequently-adjacent emitted symbols.

    Each round's table is SCORED by its measured encoded size and the best
    table observed wins (r5): a later round can over-merge — promoting
    concatenations crowds out the single-byte symbols that guarantee
    escape-free coverage, and on id-like strings round 2 measured ~1.6x
    WORSE than round 1. Best-of-measured makes refinement monotone by
    construction instead of hoping the heuristic converges."""
    if lengths is None:
        lengths = np.array([len(data)], np.int64)
    else:
        # clip to the sampled byte span (build_table may have truncated)
        lengths = np.asarray(lengths, np.int64)
        keep = np.cumsum(lengths) <= len(data)
        lengths = lengths[keep] if keep.any() else np.array([len(data)], np.int64)
        if lengths.sum() < len(data):
            lengths = np.concatenate((lengths, [len(data) - lengths.sum()]))
    raw = data.tobytes()
    best_table = table
    best_size = None
    scored_current = False  # is `table` the one the last score measured?
    for _ in range(rounds):
        enc = encode_flat(lengths, raw, symbols=table)
        scored_current = True
        if best_size is None or len(enc) < best_size:
            # size of the CURRENT table's encoding (first iteration scores
            # the greedy table itself)
            best_size, best_table = len(enc), table
        nsym = enc[0]
        pos = 1 + nsym + sum(enc[1 + i] for i in range(nsym))
        lens_len = int.from_bytes(enc[pos : pos + 4], "little")
        pos += 4 + lens_len
        codes = np.frombuffer(enc[pos:], np.uint8)
        c = codes[codes != ESCAPE]  # escape interleaving ignored (sampling)
        if len(c) < 2:
            break
        cands: dict[bytes, int] = {}
        uc, un = np.unique(c, return_counts=True)
        for code, n in zip(uc, un):
            if code < len(table):
                s = table[int(code)]
                cands[s] = cands.get(s, 0) + int(n) * max(len(s) - 1, 1)
        pair_keys = c[:-1].astype(np.uint32) * 256 + c[1:]
        u, cnt = np.unique(pair_keys, return_counts=True)
        for k, n in zip(u[np.argsort(cnt)[::-1][:300]], np.sort(cnt)[::-1][:300]):
            ia, ib = int(k) // 256, int(k) % 256
            if ia >= len(table) or ib >= len(table):
                continue
            merged = table[ia] + table[ib]
            if len(merged) <= MAX_SYM_LEN:
                cands[merged] = cands.get(merged, 0) + int(n) * (len(merged) - 1)
        table = [s for s, _ in sorted(cands.items(), key=lambda kv: -kv[1])[:MAX_SYMBOLS]]
        scored_current = False
    # score the final round's table too — unless the loop broke with an
    # already-scored table (re-encoding the sample then is pure waste)
    if not scored_current:
        enc = encode_flat(lengths, raw, symbols=table)
        if best_size is None or len(enc) < best_size:
            best_table = table
    return best_table


def _match_table(symbols: list[bytes]):
    """Per-length sorted key arrays + code arrays for vectorized lookup."""
    by_len: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for L in range(1, MAX_SYM_LEN + 1):
        items = [(int.from_bytes(s, "little"), code) for code, s in enumerate(symbols) if len(s) == L]
        if items:
            items.sort()
            by_len[L] = (
                np.array([k for k, _ in items], np.uint64),
                np.array([c for _, c in items], np.int64),
            )
    return by_len


def encode_flat(lengths: np.ndarray, data: bytes, symbols: list[bytes] | None = None) -> bytes:
    lengths = np.ascontiguousarray(lengths, dtype=np.int64)
    arr = np.frombuffer(data, np.uint8)
    n = len(arr)
    if symbols is None:
        symbols = build_table(arr, lengths=lengths)
    by_len = _match_table(symbols)

    code = np.full(n, -1, dtype=np.int64)
    matchlen = np.ones(n, dtype=np.int64)
    if n:
        keys = _window_keys(arr)
        # longest match wins: try lengths descending, keep first hit
        unset = np.ones(n, dtype=bool)
        # value-boundary distances: a match must not cross into the next value
        off = np.concatenate(([0], np.cumsum(lengths)))
        bdist = np.repeat(lengths, lengths) - (
            np.arange(n, dtype=np.int64) - np.repeat(off[:-1], lengths)
        )
        for L in sorted(by_len, reverse=True):
            skeys, scodes = by_len[L]
            mask = np.uint64((1 << (8 * L)) - 1) if L < 8 else np.uint64(0xFFFFFFFFFFFFFFFF)
            sub = keys & mask
            pos = np.searchsorted(skeys, sub)
            pos[pos == len(skeys)] = 0
            hit = (skeys[pos] == sub) & unset & (bdist >= L)
            code[hit] = scodes[pos[hit]]
            matchlen[hit] = L
            unset &= ~hit

    emit = bitpack.orbit_positions(np.arange(n, dtype=np.int64) + matchlen, n)
    ecodes = code[emit]
    is_sym = ecodes >= 0
    out_sizes = np.where(is_sym, 1, 2)
    out_off = np.concatenate(([0], np.cumsum(out_sizes)))
    stream = np.empty(out_off[-1], dtype=np.uint8)
    stream[out_off[:-1][is_sym]] = ecodes[is_sym].astype(np.uint8)
    lit = ~is_sym
    stream[out_off[:-1][lit]] = ESCAPE
    stream[out_off[:-1][lit] + 1] = arr[emit[lit]]

    table = bytes([len(symbols)]) + bytes(len(s) for s in symbols) + b"".join(symbols)
    lens_enc = delta_for.encode(lengths.astype(np.int32), "int32")
    return (
        table
        + len(lens_enc).to_bytes(4, "little")
        + lens_enc
        + stream.tobytes()
    )


def decode_flat(buf: bytes | np.ndarray, n: int) -> tuple[np.ndarray, bytes]:
    raw = np.frombuffer(buf, np.uint8) if not isinstance(buf, np.ndarray) else buf
    nsym = int(raw[0])
    sym_lens = raw[1 : 1 + nsym].astype(np.int64)
    pos = 1 + nsym
    total_sym = int(sym_lens.sum())
    sym_data = raw[pos : pos + total_sym]
    pos += total_sym
    lens_len = int.from_bytes(raw[pos : pos + 4].tobytes(), "little")
    pos += 4
    lengths = delta_for.decode(raw[pos : pos + lens_len], n, "int32").astype(np.int64)
    pos += lens_len
    codes = raw[pos:]

    m = len(codes)
    if m == 0:
        return lengths, b""
    # classify code vs literal: every maximal run of ESCAPE bytes starts at a
    # code position; within it bytes alternate escape/literal; an odd run also
    # consumes the following byte as a literal.
    is_esc255 = codes == ESCAPE
    # run decomposition of the boolean mask, fully vectorized (the previous
    # per-run Python loop was the decode path's tail risk on escape-heavy
    # data): within a maximal 255-run starting at s, even offsets are escape
    # markers and odd offsets are escaped literals; an odd-length run also
    # consumes the first byte AFTER the run as a literal
    change = np.flatnonzero(np.diff(is_esc255.astype(np.int8))) + 1
    starts = np.concatenate(([0], change))
    runlens = np.diff(np.concatenate((starts, [m])))
    within = np.arange(m, dtype=np.int64) - np.repeat(starts, runlens)
    in_esc_run = np.repeat(is_esc255[starts], runlens)
    is_escape = in_esc_run & (within % 2 == 0)
    is_literal = in_esc_run & (within % 2 == 1)
    odd_runs = is_esc255[starts] & (runlens % 2 == 1)
    trailing = starts[odd_runs] + runlens[odd_runs]
    is_literal[trailing[trailing < m]] = True
    is_code_sym = ~(is_escape | is_literal)

    # output sizes per stream byte: symbol len, literal 1, escape 0
    sym_off = np.concatenate(([0], np.cumsum(sym_lens)))
    out_sizes = np.zeros(m, dtype=np.int64)
    out_sizes[is_code_sym] = sym_lens[codes[is_code_sym].astype(np.int64)]
    out_sizes[is_literal] = 1
    out_off = np.concatenate(([0], np.cumsum(out_sizes)))
    total = int(out_off[-1])
    out = np.empty(total, dtype=np.uint8)
    # scatter literals
    out[out_off[:-1][is_literal]] = codes[is_literal]
    # gather symbols (variable length copy via repeat trick)
    ci = np.flatnonzero(is_code_sym)
    if len(ci):
        scodes = codes[ci].astype(np.int64)
        slens = sym_lens[scodes]
        rep_src = np.repeat(sym_off[:-1][scodes], slens)
        rep_dst = np.repeat(out_off[:-1][ci], slens)
        within = np.arange(int(slens.sum()), dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(slens)[:-1])), slens
        )
        out[rep_dst + within] = sym_data[rep_src + within]
    return lengths, out.tobytes()
