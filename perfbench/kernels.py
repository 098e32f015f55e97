"""Kernel table: the driver-side numpy layers timed on fixed arrays.

The integer arrays are the token streams of ``datagen`` at a fixed seed,
one per source, each drawn from one regime (zipf, lowcard1000, monotone,
smallrange and runs); the byte-array inputs are that corpus's sorted doc ids and its
low-cardinality source names. The arrays do not depend on the run's seed,
so kernel figures compare across runs. Every kernel call is checked by a
round trip, and each check counts as one operation of the run.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

KERNEL_SEED = 20240611
KERNEL_DOCS = 3000
REGIME_CAP = 1 << 17
MIN_KERNEL_S = 0.03

INT_CODECS = ("plain", "dict", "rle", "bitpack", "delta")
BA_CODECS = ("fsst", "delta_length_ba", "delta_ba")
BLOCK_CODECS = ("snappy", "zstd")

UNITS = {
    **{f"codecs.{c}.{d}_mvals_s": "Mvals/s" for c in INT_CODECS + BA_CODECS for d in ("enc", "dec")},
    "selector.mvals_s": "Mvals/s",
    "selector.regret": "ratio",
    "chunk.enc_mvals_s": "Mvals/s",
    "chunk.dec_mvals_s": "Mvals/s",
    **{f"compression.{c}.{d}_mb_s": "MB/s" for c in BLOCK_CODECS for d in ("comp", "decomp")},
    "levels.enc_mvals_s": "Mvals/s",
    "levels.dec_mvals_s": "Mvals/s",
}


def _per_call_s(fn) -> float:
    """Median wall time of one call, over as many calls as fit in
    ``MIN_KERNEL_S`` (at least three)."""
    times = []
    start = time.perf_counter()
    while len(times) < 3 or time.perf_counter() - start < MIN_KERNEL_S:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_inputs():
    """-> (int regimes {name: int32 array}, byte-array inputs {name:
    (lengths, data)}, token list offsets)."""
    from engine import datagen

    pdf = datagen.generate_pandas(KERNEL_DOCS, seed=KERNEL_SEED)
    regimes = {}  # keyed by source; each source draws from one regime
    for source in datagen.SOURCES:
        toks = pdf.loc[pdf["source"] == source, "tokens"]
        regimes[source] = np.concatenate(toks.to_list())[:REGIME_CAP].astype(np.int32)
    strings = {
        "doc_ids": sorted(pdf["doc_id"].to_list()),
        "sources": pdf["source"].to_list(),
    }
    byte_inputs = {}
    for name, values in strings.items():
        encoded = [s.encode() for s in values]
        byte_inputs[name] = (
            np.array([len(b) for b in encoded], np.int64),
            b"".join(encoded),
        )
    offsets = np.concatenate(([0], np.cumsum(pdf["n_tok"].to_numpy(np.int64))))
    return regimes, byte_inputs, offsets


def _int_codec(name: str):
    """-> (encode(values) -> state, decode(state, n) -> values)."""
    from engine.codecs import bitpack, delta_for, dictionary, plain, rle

    if name == "plain":
        return (lambda v: plain.encode(v, "int32"),
                lambda s, n: plain.decode(s, n, "int32"))
    if name == "dict":
        return (lambda v: dictionary.encode(v, "int32"),
                lambda s, n: dictionary.decode(s[0], s[1], n, "int32"))
    if name == "delta":
        return (lambda v: delta_for.encode(v, "int32"),
                lambda s, n: delta_for.decode(s, n, "int32"))
    kernel = {"rle": (rle.encode, rle.decode), "bitpack": (bitpack.pack, bitpack.unpack)}[name]

    def enc(v):  # frame of reference: offset by the minimum, as chunk.py does
        lo = int(v.min())
        w = bitpack.num_required_bits(int(v.max()) - lo)
        return lo, w, kernel[0]((v.astype(np.int64) - lo).astype(np.uint64), w)

    def dec(s, n):
        lo, w, buf = s
        return (kernel[1](buf, w, n).astype(np.int64) + lo).astype(np.int32)

    return enc, dec


def _ba_codec(name: str):
    from engine.codecs import bytearrays, fsst

    return {
        "fsst": (fsst.encode_flat, fsst.decode_flat),
        "delta_length_ba": (bytearrays.encode_delta_length, bytearrays.decode_delta_length),
        "delta_ba": (bytearrays.encode_delta_byte_array, bytearrays.decode_delta_byte_array),
    }[name]


def _rate(n_total: float, seconds: float) -> float:
    return n_total / seconds / 1e6 if seconds > 0 else 0.0


def kernel_table(run) -> dict[str, float]:
    """Time every kernel; ``run.check`` records each round trip."""
    from engine import chunk, compression, levels, selector

    regimes, byte_inputs, offsets = kernel_inputs()
    n_int = sum(len(v) for v in regimes.values())
    out: dict[str, float] = {}

    for name in INT_CODECS:
        enc, dec = _int_codec(name)
        t_enc = t_dec = 0.0
        for regime, v in regimes.items():
            state = enc(v)
            run.check(np.array_equal(dec(state, len(v)), v), f"codecs.{name} {regime}")
            t_enc += _per_call_s(lambda: enc(v))
            t_dec += _per_call_s(lambda: dec(state, len(v)))
        out[f"codecs.{name}.enc_mvals_s"] = _rate(n_int, t_enc)
        out[f"codecs.{name}.dec_mvals_s"] = _rate(n_int, t_dec)

    n_ba = sum(len(lengths) for lengths, _ in byte_inputs.values())
    for name in BA_CODECS:
        enc, dec = _ba_codec(name)
        t_enc = t_dec = 0.0
        for what, (lengths, data) in byte_inputs.items():
            buf = enc(lengths, data)
            got_lengths, got_data = dec(buf, len(lengths))
            run.check(
                np.array_equal(got_lengths, lengths) and bytes(got_data) == data,
                f"codecs.{name} {what}",
            )
            t_enc += _per_call_s(lambda: enc(lengths, data))
            t_dec += _per_call_s(lambda: dec(buf, len(lengths)))
        out[f"codecs.{name}.enc_mvals_s"] = _rate(n_ba, t_enc)
        out[f"codecs.{name}.dec_mvals_s"] = _rate(n_ba, t_dec)

    # selector speed and regret: bytes of the chosen codec's chunk over the
    # smallest candidate chunk, summed over regimes
    t_sel = t_enc = t_dec = 0.0
    chosen_bytes = best_bytes = 0
    for regime, v in regimes.items():
        choice = selector.select_codec(v)[0]
        t_sel += _per_call_s(lambda: selector.select_codec(v))
        sizes = {c: len(chunk.encode_chunk(v, c, "int32")) for c in selector.INT_CANDIDATES}
        chosen_bytes += sizes[choice]
        best_bytes += min(sizes.values())
        blob = chunk.encode_chunk(v, choice, "int32")
        run.check(np.array_equal(chunk.decode_chunk(blob), v), f"chunk {choice} {regime}")
        t_enc += _per_call_s(lambda: chunk.encode_chunk(v, choice, "int32"))
        t_dec += _per_call_s(lambda: chunk.decode_chunk(blob))
    out["selector.mvals_s"] = _rate(n_int, t_sel)
    out["selector.regret"] = chosen_bytes / best_bytes
    out["chunk.enc_mvals_s"] = _rate(n_int, t_enc)
    out["chunk.dec_mvals_s"] = _rate(n_int, t_dec)

    raw = b"".join(v.tobytes() for v in regimes.values())
    for name in BLOCK_CODECS:
        codec = compression.create_codec(name)
        packed = codec.compress(raw)
        run.check(codec.decompress(packed) == raw, f"compression.{name}")
        out[f"compression.{name}.comp_mb_s"] = _rate(len(raw), _per_call_s(lambda: codec.compress(raw)))
        out[f"compression.{name}.decomp_mb_s"] = _rate(
            len(raw), _per_call_s(lambda: codec.decompress(packed))
        )

    reps = levels.shred_lists(offsets)
    buf = levels.encode_v1(reps, 1)
    run.check(np.array_equal(levels.decode_v1(buf, 1, len(reps))[0], reps), "levels v1")
    out["levels.enc_mvals_s"] = _rate(len(reps), _per_call_s(lambda: levels.encode_v1(reps, 1)))
    out["levels.dec_mvals_s"] = _rate(
        len(reps), _per_call_s(lambda: levels.decode_v1(buf, 1, len(reps)))
    )
    return out
