"""Byte-stability golden: the chunk rows ``encode_table`` emits for a small
seeded table are pinned per (chunk_id, column) — codec, payload checksum,
value count, null count and every statistic. Any change to the bucket
encoder that moves a single payload byte (and so breaks resume against an
existing chunk store) fails here.

The table covers every generic column kind, with NULLs and NaNs where the
kind admits them, plus the corpus ``DEFAULT_COLUMNS``."""

import numpy as np
import pytest
from pyspark.sql import types as T

from engine import datagen
from engine.jobs import encode as encode_job

N_ROWS = 64
BIG = 2**62

_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("grp", T.StringType(), False),
        T.StructField("i32", T.IntegerType(), True),
        T.StructField("flag", T.BooleanType(), True),
        T.StructField("big", T.LongType(), True),
        T.StructField("f64", T.DoubleType(), True),
        T.StructField("f32", T.FloatType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("b", T.BinaryType(), True),
        T.StructField("li64", T.ArrayType(T.LongType(), True), True),
        T.StructField("lf64", T.ArrayType(T.DoubleType(), True), True),
        T.StructField("lbytes", T.ArrayType(T.StringType(), True), True),
    ]
)


def _maybe(rng, v, p_null=0.2):
    return None if rng.random() < p_null else v


def _float(rng):
    r = rng.random()
    if r < 0.15:
        return None
    if r < 0.3:
        return float("nan")
    return float(np.round(rng.normal(0, 100), 3))


def _rows(seed: int = 11):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(N_ROWS):
        n = int(rng.integers(0, 4))
        rows.append(
            (
                i,
                f"g{i % 2}",
                _maybe(rng, int(rng.integers(-(2**31), 2**31 - 1))),
                _maybe(rng, bool(rng.integers(0, 2))),
                _maybe(rng, int(rng.choice([1, -1])) * (BIG - int(rng.integers(0, 1000)))),
                _float(rng),
                _float(rng),
                _maybe(rng, "s" * int(rng.integers(0, 5)) + str(i)),
                _maybe(rng, bytes(rng.integers(0, 256, int(rng.integers(0, 6)), np.uint8))),
                _maybe(
                    rng,
                    [_maybe(rng, 2**53 + int(rng.integers(1, 10**6))) for _ in range(n)],
                ),
                _maybe(rng, [_float(rng) for _ in range(n)]),
                _maybe(rng, [_maybe(rng, f"e{int(rng.integers(0, 9))}") for _ in range(n)]),
            )
        )
    return rows


_FIELDS = ("codec", "checksum", "n_values", "null_count",
           "vmin", "vmax", "vmin_d", "vmax_d", "vmin_s", "vmax_s")


def _pin(chunks, fields=_FIELDS):
    return {
        (r["chunk_id"], r["column"]): tuple(r[f] for f in fields)
        for r in chunks.collect()
    }


# (codec, checksum, n_values, null_count, vmin, vmax, vmin_d, vmax_d, vmin_s, vmax_s);
# the int64 statistics of `big` and `li64` are the exact data extremes, which
# lie above 2^53 and so must never round through float64
GOLDEN_TABLE = {
    ('g0#0000000000', 'b'): ('delta_length_ba', 3588669857, 32, 10, None, None, None, None, None, None),
    ('g0#0000000000', 'big'): ('plain', 800358101, 32, 10, -4611686018427387877, 4611686018427387813, None, None, None, None),
    ('g0#0000000000', 'f32'): ('plain', 3755705643, 32, 3, None, None, -219.76699829101562, 290.66400146484375, None, None),
    ('g0#0000000000', 'f64'): ('plain', 599350093, 32, 6, None, None, -251.496, 111.849, None, None),
    ('g0#0000000000', 'flag'): ('plain', 3525371338, 32, 9, 0, 1, None, None, None, None),
    ('g0#0000000000', 'grp'): ('dict_ba', 2883962647, 32, 0, None, None, None, None, 'g0', 'g0'),
    ('g0#0000000000', 'i32'): ('plain', 3271489330, 32, 6, -2100285353, 2034334803, None, None, None, None),
    ('g0#0000000000', 'id'): ('delta', 2894324882, 32, 0, 0, 62, None, None, None, None),
    ('g0#0000000000', 'lbytes'): ('list', 3594937702, 32, 6, None, None, None, None, None, None),
    ('g0#0000000000', 'lf64'): ('list', 2663825287, 32, 8, None, None, -201.118, 138.608, None, None),
    ('g0#0000000000', 'li64'): ('list', 1874842507, 32, 5, 9007199254745931, 9007199255730453, None, None, None, None),
    ('g0#0000000000', 's'): ('delta_length_ba', 2087612583, 32, 3, None, None, None, None, '0', 'ssss62'),
    ('g1#0000000000', 'b'): ('delta_length_ba', 2096122250, 32, 11, None, None, None, None, None, None),
    ('g1#0000000000', 'big'): ('plain', 1123398604, 32, 5, -4611686018427387896, 4611686018427387558, None, None, None, None),
    ('g1#0000000000', 'f32'): ('plain', 2127103167, 32, 6, None, None, -119.3740005493164, 226.58799743652344, None, None),
    ('g1#0000000000', 'f64'): ('plain', 54861113, 32, 7, None, None, -151.438, 172.559, None, None),
    ('g1#0000000000', 'flag'): ('plain', 1327304576, 32, 5, 0, 1, None, None, None, None),
    ('g1#0000000000', 'grp'): ('dict_ba', 324640882, 32, 0, None, None, None, None, 'g1', 'g1'),
    ('g1#0000000000', 'i32'): ('plain', 1184091322, 32, 5, -1992818723, 1964748587, None, None, None, None),
    ('g1#0000000000', 'id'): ('delta', 3779806617, 32, 0, 1, 63, None, None, None, None),
    ('g1#0000000000', 'lbytes'): ('list', 950032089, 32, 5, None, None, None, None, None, None),
    ('g1#0000000000', 'lf64'): ('list', 33267866, 32, 7, None, None, -231.364, 249.021, None, None),
    ('g1#0000000000', 'li64'): ('list', 2402483699, 32, 5, 9007199254756707, 9007199255643271, None, None, None, None),
    ('g1#0000000000', 's'): ('delta_length_ba', 2298523070, 32, 10, None, None, None, None, '33', 'ssss7'),
}

GOLDEN_CORPUS = {
    ('books#0000000000', 'doc_id'): ('delta_ba', 2901746578, 7, 0, None, None, None, None, 'doc-books-00000000', 'doc-books-00000006'),
    ('books#0000000000', 'n_tok'): ('bitpack', 2687057149, 7, 0, 49, 410, None, None, None, None),
    ('books#0000000000', 'source'): ('dict_ba', 3084393033, 7, 0, None, None, None, None, 'books', 'books'),
    ('books#0000000000', 'tokens'): ('delta', 2006102239, 1533, 0, 112396, 1041179, None, None, None, None),
    ('chat#0000000000', 'doc_id'): ('delta_ba', 1744233319, 3, 0, None, None, None, None, 'doc-chat-00000000', 'doc-chat-00000002'),
    ('chat#0000000000', 'n_tok'): ('bitpack', 290707299, 3, 0, 152, 827, None, None, None, None),
    ('chat#0000000000', 'source'): ('dict_ba', 3790455594, 3, 0, None, None, None, None, 'chat', 'chat'),
    ('chat#0000000000', 'tokens'): ('rle', 584367034, 1303, 0, 0, 7, None, None, None, None),
    ('code#0000000000', 'doc_id'): ('delta_ba', 1318732792, 13, 0, None, None, None, None, 'doc-code-00000000', 'doc-code-00000012'),
    ('code#0000000000', 'n_tok'): ('bitpack', 790377158, 13, 0, 49, 417, None, None, None, None),
    ('code#0000000000', 'source'): ('dict_ba', 987369797, 13, 0, None, None, None, None, 'code', 'code'),
    ('code#0000000000', 'tokens'): ('bitpack', 2007810322, 2846, 0, 0, 999, None, None, None, None),
    ('web#0000000000', 'doc_id'): ('delta_ba', 2177048442, 16, 0, None, None, None, None, 'doc-web-00000003', 'doc-web-00000033'),
    ('web#0000000000', 'n_tok'): ('bitpack', 571466402, 16, 0, 63, 532, None, None, None, None),
    ('web#0000000000', 'source'): ('dict_ba', 501079133, 16, 0, None, None, None, None, 'web', 'web'),
    ('web#0000000000', 'tokens'): ('dict', 1020385984, 4246, 0, 0, 49999, None, None, None, None),
    ('web#0000000001', 'doc_id'): ('delta_ba', 2670972462, 20, 0, None, None, None, None, 'doc-web-00000000', 'doc-web-00000035'),
    ('web#0000000001', 'n_tok'): ('bitpack', 3704770446, 20, 0, 44, 1474, None, None, None, None),
    ('web#0000000001', 'source'): ('dict_ba', 3573831253, 20, 0, None, None, None, None, 'web', 'web'),
    ('web#0000000001', 'tokens'): ('dict', 3053855727, 7006, 0, 0, 49999, None, None, None, None),
    ('wiki#0000000000', 'doc_id'): ('delta_ba', 3491350344, 5, 0, None, None, None, None, 'doc-wiki-00000000', 'doc-wiki-00000004'),
    ('wiki#0000000000', 'n_tok'): ('bitpack', 4112590344, 5, 0, 84, 240, None, None, None, None),
    ('wiki#0000000000', 'source'): ('dict_ba', 4250300605, 5, 0, None, None, None, None, 'wiki', 'wiki'),
    ('wiki#0000000000', 'tokens'): ('delta', 1130953548, 709, 0, 7761, 56236, None, None, None, None),
}


def test_generic_table_chunks_are_byte_stable(spark):
    df = spark.createDataFrame(_rows(), _SCHEMA)
    chunks = encode_job.encode_table(
        df,
        columns=encode_job.derive_columns(df),
        rows_per_bucket=32,
        bucket_key="grp",
        salt_col="id",
        sort_col="id",
    )
    assert _pin(chunks) == GOLDEN_TABLE


def test_corpus_chunks_are_byte_stable(spark):
    df = spark.createDataFrame(datagen.generate_pandas(N_ROWS, seed=7))
    chunks = encode_job.encode_table(df, rows_per_bucket=32)
    assert _pin(chunks) == GOLDEN_CORPUS


# generic list columns beyond li64/lf64/lbytes: null lists, empty lists and
# null elements in every element kind, pinned apart so GOLDEN_TABLE holds
_LIST_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("grp", T.StringType(), False),
        T.StructField("li32", T.ArrayType(T.IntegerType(), True), True),
        T.StructField("lf32", T.ArrayType(T.FloatType(), True), True),
        T.StructField("lbool", T.ArrayType(T.BooleanType(), True), True),
        T.StructField("lbin", T.ArrayType(T.BinaryType(), True), True),
    ]
)


def _list_rows(seed: int = 13):
    rng = np.random.default_rng(seed)

    def lst(make):
        # one list in five is NULL, one in four of the rest is empty
        if rng.random() < 0.2:
            return None
        return [_maybe(rng, make()) for _ in range(int(rng.integers(0, 4)))]

    return [
        (
            i,
            f"g{i % 2}",
            lst(lambda: int(rng.integers(-1000, 1000))),
            lst(lambda: float(np.float32(rng.normal(0, 10)))),
            lst(lambda: bool(rng.integers(0, 2))),
            lst(lambda: bytes(rng.integers(0, 256, int(rng.integers(0, 4)), np.uint8))),
        )
        for i in range(N_ROWS)
    ]


# _FIELDS plus raw_bytes and enc_bytes, so the frame headers are pinned too
_LIST_FIELDS = (*_FIELDS, "raw_bytes", "enc_bytes")

# (*_FIELDS, raw_bytes, enc_bytes)
GOLDEN_LISTS = {
    ('g0#0000000000', 'grp'): ('dict_ba', 2883962647, 32, 0, None, None, None, None, 'g0', 'g0', 192, 49),
    ('g0#0000000000', 'id'): ('delta', 2894324882, 32, 0, 0, 62, None, None, None, None, 256, 46),
    ('g0#0000000000', 'lbin'): ('list', 1086206388, 32, 4, None, None, None, None, None, None, 175, 219),
    ('g0#0000000000', 'lbool'): ('list', 1974572591, 32, 5, None, None, None, None, None, None, 167, 151),
    ('g0#0000000000', 'lf32'): ('list', 667557626, 32, 6, None, None, -22.939552307128906, 16.511003494262695, None, None, 276, 258),
    ('g0#0000000000', 'li32'): ('list', 3955012781, 32, 6, -998, 895, None, None, None, None, 264, 181),
    ('g1#0000000000', 'grp'): ('dict_ba', 324640882, 32, 0, None, None, None, None, 'g1', 'g1', 192, 49),
    ('g1#0000000000', 'id'): ('delta', 3779806617, 32, 0, 1, 63, None, None, None, None, 256, 46),
    ('g1#0000000000', 'lbin'): ('list', 3463556750, 32, 7, None, None, None, None, None, None, 173, 216),
    ('g1#0000000000', 'lbool'): ('list', 2837319834, 32, 4, None, None, None, None, None, None, 161, 150),
    ('g1#0000000000', 'lf32'): ('list', 2242051279, 32, 5, None, None, -21.530353546142578, 24.159130096435547, None, None, 264, 262),
    ('g1#0000000000', 'li32'): ('list', 1113909324, 32, 4, -991, 995, None, None, None, None, 284, 192),
}


def test_generic_list_chunks_are_byte_stable(spark):
    df = spark.createDataFrame(_list_rows(), _LIST_SCHEMA)
    chunks = encode_job.encode_table(
        df,
        columns=encode_job.derive_columns(df),
        rows_per_bucket=32,
        bucket_key="grp",
        salt_col="id",
        sort_col="id",
    )
    assert _pin(chunks, _LIST_FIELDS) == GOLDEN_LISTS
