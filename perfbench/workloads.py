"""The four workloads. Each derives its inputs from the run's seed, times
its engine calls through ``Run.op`` and checks every output.

Every workload has a write operation and a read operation, whose
throughputs are the ``write_per_s`` and ``read_per_s`` end-to-end metrics
in the workload's own unit (``units`` in README.md). ``pass_s`` is the wall
time of all timed operations of one pass.
"""

from __future__ import annotations

import os
import shutil
import zlib

import numpy as np

from .harness import median

WARM_SEED_OFFSET = 1_000_003


class Workload:
    uses_spark = True
    write_span = read_span = ""
    # input size at scale 1, and of the warm-up input
    size = warm_size = 0
    min_size = 1

    def __init__(self, run, seed: int, n: int, tag: str = "main"):
        self.run = run
        self.seed = seed
        self.n = n
        self.dir = run.path(tag)
        os.makedirs(self.dir, exist_ok=True)
        self.write_units = self.read_units = 0.0

    @classmethod
    def for_run(cls, run, seed: int, scale: float):
        return cls(run, seed, max(cls.min_size, round(cls.size * scale)))

    def warm_up(self) -> None:
        """One pass over a small input from another seed: forks the Python
        workers and compiles codegen without touching the timed input."""
        n = max(self.min_size, min(self.warm_size, self.n))
        warm = type(self)(self.run, self.seed + WARM_SEED_OFFSET, n, tag="warm")
        warm.setup()
        warm.run_pass()
        shutil.rmtree(warm.dir, ignore_errors=True)

    def setup(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> None:
        raise NotImplementedError

    def timer_metrics(self, timer) -> dict[str, float]:
        return {}

    def _fresh(self, name: str) -> str:
        """A per-pass output path under this workload's directory."""
        return os.path.join(self.dir, f"{name}{self.run.pass_no}")


# -- corpus ------------------------------------------------------------------

BYTES_PER_TOKEN_AT_42 = 1.5521


class Corpus(Workload):
    """``datagen`` corpus -> ``encode_table`` -> local parquet chunk store
    -> ``decode_chunks``, checked against an input fingerprint. Unit: token."""

    write_span, read_span = "encode", "decode"
    size, warm_size, min_size = 60_000, 300, 200

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from engine import datagen

        run = self.run
        path = os.path.join(self.dir, "input")
        datagen.generate_spark(
            run.spark, self.n, seed=self.seed, partitions=run.cpus
        ).write.parquet(path)
        self.input = run.spark.read.parquet(path)
        row = self.input.agg(F.sum("n_tok"), _doc_hash_sum()).first()
        self.tokens = int(row[0])
        self.fingerprint = tuple(row)
        self.write_units = self.read_units = self.tokens
        # the bucket size bench.py has always used; bytes_per_token depends on it
        self.rows_per_bucket = max(512, self.n // 128)

    def run_pass(self) -> None:
        from pyspark.sql import functions as F

        from engine.jobs import decode, encode

        run = self.run
        store = self._fresh("store")
        chunks = encode.encode_table(self.input, rows_per_bucket=self.rows_per_bucket)
        _, t_enc = run.op("encode", lambda: chunks.write.parquet(store), df=chunks)
        stored = run.spark.read.parquet(store)
        tok = stored.where(F.col("column") == "tokens")
        enc_bytes, n_values = tok.agg(F.sum("enc_bytes"), F.sum("n_values")).first()
        bytes_per_token = enc_bytes / self.tokens
        run.check(
            n_values == self.tokens
            and (
                (self.seed, self.n) != (42, Corpus.size)
                or round(bytes_per_token, 4) == BYTES_PER_TOKEN_AT_42
            ),
            f"encode: {n_values} token values, {bytes_per_token:.4f} bytes/token",
        )

        decoded = decode.decode_chunks(stored).agg(F.sum("n_tok"), _doc_hash_sum())
        (row,), t_dec = run.op("decode", decoded.collect, df=decoded)
        run.check(tuple(row) == self.fingerprint, "decode: corpus fingerprint")

        run.record("encode_tokens_per_s", self.tokens / t_enc)
        run.record("decode_tokens_per_s", self.tokens / t_dec)
        run.record("bytes_per_token", bytes_per_token)
        if run.traced:
            mix = dict(tok.groupBy("codec").count().collect())
            run.record("encode.chunks", sum(mix.values()))
            for codec in ("plain", "dict", "delta", "bitpack", "rle"):
                run.record(f"encode.codec_mix.{codec}", mix.get(codec, 0))
        shutil.rmtree(store)


def _doc_hash_sum():
    """Order-independent fingerprint of (doc_id, tokens, source) rows."""
    from pyspark.sql import functions as F

    h = F.xxhash64("doc_id", F.col("tokens").cast("array<int>"), "source")
    return F.sum(h.cast("decimal(38,0)"))


# -- mixed_table -------------------------------------------------------------


class MixedTable(Workload):
    """A nullable generic table -> ``encode_table(derive_columns(...))`` ->
    local parquet chunk store -> ``decode_table``, checked by per-column
    null, NaN and exact-sum statistics. Unit: row."""

    write_span, read_span = "table_encode", "table_decode"
    size, warm_size, min_size = 250_000, 2_000, 2_000
    rows_per_bucket = 16_384

    def setup(self) -> None:
        import pyarrow as pa

        rng = np.random.default_rng(self.seed)
        n = self.n

        def mask(p, size=n):
            return rng.random(size) < p

        # doubles are multiples of 1/8 well below 2**53, so their sums are
        # exact in any order and the check can compare them with ==
        def eighths(size):
            return rng.integers(-(1 << 20), 1 << 20, size) / 8.0

        i64_null = mask(0.1)
        i64 = rng.integers(-(1 << 62), 1 << 62, n)
        f64 = eighths(n)
        f64_nan, f64_null = mask(0.05), mask(0.1)
        f64[f64_nan] = np.nan
        vocab = np.array([f"v{i * 7919 % 100_003:x}" for i in range(5_000)], dtype=object)
        s_null = mask(0.1)
        s = vocab[np.minimum(rng.zipf(1.5, n), len(vocab)) - 1]
        lens = rng.integers(0, 5, n)
        xs_null = mask(0.05)
        lens[xs_null] = 0
        offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
        elems = eighths(int(offsets[-1]))
        e_nan, e_null = mask(0.05, len(elems)), mask(0.1, len(elems))
        elems[e_nan] = np.nan
        table = pa.table({
            "id": pa.array(rng.permutation(n).astype(np.int64)),
            "grp": pa.array(np.array([f"g{i}" for i in range(8)], dtype=object)[rng.integers(0, 8, n)]),
            "i64": pa.array(i64, mask=i64_null),
            "f64": pa.array(f64, mask=f64_null),
            "s": pa.array(s, type=pa.string(), mask=s_null),
            "xs": pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(elems, mask=e_null),
                mask=pa.array(xs_null),
            ),
        })
        self.input = _write_parts(self.run, table, os.path.join(self.dir, "input"))

        f_ok = ~f64_null
        s_kept = s[~s_null]
        self.expected = (
            n,
            int((~i64_null).sum()), sum(int(v) for v in i64[~i64_null]),
            int(f_ok.sum()), int((f_ok & f64_nan).sum()),
            float(f64[f_ok & ~f64_nan].sum()),
            int((~s_null).sum()), int(sum(len(v) for v in s_kept)),
            sum(zlib.crc32(v.encode()) for v in s_kept),
            int((~xs_null).sum()), int(lens.sum()),
            int(e_null.sum()), int((e_nan & ~e_null).sum()),
            float(elems[~e_null & ~e_nan].sum()),
        )
        self.write_units = self.read_units = n

    def run_pass(self) -> None:
        from pyspark.sql import functions as F

        from engine.jobs import decode, encode

        run = self.run
        store = self._fresh("store")
        cols = encode.derive_columns(self.input)
        chunks = encode.encode_table(
            self.input, columns=cols, rows_per_bucket=self.rows_per_bucket,
            bucket_key="grp", salt_col="id", sort_col="id",
        )
        _, t_enc = run.op("table_encode", lambda: chunks.write.parquet(store), df=chunks)
        stored = run.spark.read.parquet(store)
        enc_bytes, ids = stored.agg(
            F.sum("enc_bytes"), F.sum(F.when(F.col("column") == "id", F.col("n_docs")))
        ).first()
        run.check(ids == self.n, f"table_encode: {ids} rows in the store")

        stats = _table_stats(decode.decode_table(stored, cols))
        (row,), t_dec = run.op("table_decode", stats.collect, df=stats)
        got = tuple(type(want)(v) for want, v in zip(self.expected, row))
        run.check(got == self.expected, f"table_decode: {got} != {self.expected}")

        run.record("table_encode_rows_per_s", self.n / t_enc)
        run.record("table_decode_rows_per_s", self.n / t_dec)
        run.record("table_bytes_per_row", enc_bytes / self.n)
        shutil.rmtree(store)


def _write_parts(run, table, path: str):
    """Write ``table`` as one parquet file per task slot of the session
    (two per core, like the shuffle partitions) and open it in Spark, so
    the scan is as parallel as the rest of the job."""
    import pyarrow.parquet as pq

    os.makedirs(path)
    parts = 2 * run.cpus
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))
    return run.spark.read.parquet(path)


def _table_stats(df):
    """One row of exact per-column statistics, in ``MixedTable.expected``
    order."""
    from pyspark.sql import functions as F

    f, xs = F.col("f64"), F.col("xs")
    is_nan = f.isNotNull() & F.isnan(f)

    def n_elems(pred):
        return F.sum(F.when(xs.isNotNull(), F.size(F.filter(xs, pred))))

    finite = F.aggregate(
        xs, F.lit(0.0),
        lambda a, x: a + F.when(x.isNotNull() & ~F.isnan(x), x).otherwise(F.lit(0.0)),
    )
    return df.agg(
        F.count(F.lit(1)),
        F.count("i64"), F.sum(F.col("i64").cast("decimal(38,0)")),
        F.count(f), F.sum(is_nan.cast("long")),
        F.sum(F.when(f.isNotNull() & ~F.isnan(f), f)),
        F.count("s"), F.sum(F.length("s")), F.sum(F.crc32(F.col("s").cast("binary"))),
        F.count(xs), F.sum(F.when(xs.isNotNull(), F.size(xs))),
        n_elems(lambda x: x.isNull()), n_elems(lambda x: x.isNotNull() & F.isnan(x)),
        F.sum(F.when(xs.isNotNull(), finite)),
    )


# -- parquet_file --------------------------------------------------------------


class ParquetFile(Workload):
    """Driver only: ``parquet_out.write_table`` of a flat paged file with a
    PageIndex, a full ``read_table``, seeded 1 % range lookups through
    ``read_table_pruned``, and ``read_table`` of a pyarrow-written
    ``list<list<int32>>`` file. Unit: MB of raw input values."""

    uses_spark = False
    write_span, read_span = "pq_write", "pq_scan"
    size, warm_size, min_size = 1_000_000, 20_000, 2_000
    page_size_rows = 16_384
    lookups = 200
    lookup_columns = ("id", "nint")

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(self.seed)
        n = self.n
        self.ids = np.cumsum(rng.integers(1, 5, n)).astype(np.int64)
        low = rng.integers(0, 50, n).astype(np.int32)
        nint_valid = rng.random(n) >= 0.1
        nint = rng.integers(-(1 << 40), 1 << 40, n)
        vocab = [f"{i * 2654435761 % (1 << 32):x}"[: 3 + i % 9].encode() for i in range(20_000)]
        codes = np.minimum(rng.zipf(1.3, n), len(vocab)) - 1
        vlen = np.array([len(v) for v in vocab], np.int64)
        self.text = (vlen[codes], b"".join(vocab[c] for c in codes))
        self.flat = [
            ("id", "int64", "DELTA_BINARY_PACKED", self.ids, None),
            ("low", "int32", "AUTO", low, None),
            ("nint", "int64", "PLAIN", nint, nint_valid),
            ("text", "utf8", "AUTO", self.text, None),
        ]
        self.raw_bytes = (
            8 * n + 4 * n + 8 * int(nint_valid.sum()) + len(self.text[1])
        )
        self.write_units = self.read_units = self.raw_bytes / 1e6

        lo = rng.integers(0, n - n // 100, self.lookups)
        hi = lo + n // 100 - 1
        self.ranges = [(int(self.ids[a]), int(self.ids[b])) for a, b in zip(lo, hi)]
        self.range_rows = [b - a + 1 for a, b in zip(lo, hi)]

        # depth-2 lists with null outer lists, empty and null inner lists
        n_nested = max(self.min_size, n // 20)

        def lists(lengths, values):
            null = rng.random(len(lengths)) < 0.05
            lengths[null] = 0  # a null list holds no entries
            offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
            return pa.ListArray.from_arrays(
                pa.array(offsets), values(int(offsets[-1])), mask=pa.array(null)
            )

        outer_arr = lists(
            rng.integers(0, 4, n_nested),
            lambda n_inner: lists(
                rng.integers(0, 6, n_inner),
                lambda n_vals: pa.array(rng.integers(-1000, 1000, n_vals).astype(np.int32)),
            ),
        )
        self.nested_path = os.path.join(self.dir, "nested.parquet")
        pq.write_table(pa.table({"xss": outer_arr}), self.nested_path)
        self.nested_expected = pq.read_table(self.nested_path).column("xss").to_pylist()
        self.nested_values = len(outer_arr.flatten().flatten())

    def run_pass(self) -> None:
        from engine import parquet_compat, parquet_out

        run = self.run
        path = self._fresh("flat") + ".parquet"
        written, t_write = run.op("pq_write", lambda: parquet_out.write_table(
            path, self.flat, codec="snappy", page_size_rows=self.page_size_rows,
            sorting_columns=[("id", False, False)],
        ))
        run.check(written["rows"] == self.n, "pq_write: row count")

        table, t_scan = run.op("pq_scan", lambda: parquet_compat.read_table(path))
        run.check(self._flat_equal(table), "pq_scan: values equal the input")

        latencies = []
        pages_read = pages_total = 0
        for (lo, hi), rows in zip(self.ranges, self.range_rows):
            (got, p_read, p_total), dt = run.op(
                "pq_lookup", lambda: parquet_compat.read_table_pruned(
                    path, ("id", lo, hi), columns=list(self.lookup_columns))
            )
            latencies.append(1e3 * dt)
            pages_read += p_read
            pages_total += p_total
            run.check(
                all(len(got[c][1]) == rows for c in got), f"pq_lookup [{lo}, {hi}]"
            )

        nested, t_nested = run.op(
            "pq_nested", lambda: parquet_compat.read_table(self.nested_path)
        )
        (records, _valid), = nested.values()  # keyed by the leaf path
        run.check(records == self.nested_expected, "pq_nested: records")

        run.record("pq_write_mb_per_s", self.write_units / t_write)
        run.record("pq_scan_mb_per_s", self.read_units / t_scan)
        run.record("pq_lookup_p50_ms", float(np.percentile(latencies, 50)))
        run.record("pq_lookup_p95_ms", float(np.percentile(latencies, 95)))
        run.record("pq_nested_values_per_s", self.nested_values / t_nested)
        run.record("pq_file_bytes_per_raw_byte", written["bytes"] / self.raw_bytes)
        run.record("parquet_compat.pages_read_frac", pages_read / pages_total)
        os.remove(path)

    def _flat_equal(self, table) -> bool:
        for name, _phys, _enc, values, validity in self.flat:
            got, got_valid = table[name]
            if name == "text":
                lengths, data = values
                if [len(v) for v in got] != lengths.tolist() or b"".join(got) != data:
                    return False
                continue
            if validity is None:
                if not np.array_equal(got, values):
                    return False
            elif not (
                np.array_equal(got_valid, validity)
                and np.array_equal(got[validity], values[validity])
            ):
                return False
        return True

    def timer_metrics(self, timer) -> dict[str, float]:
        def ms(span, key, per=1):
            return median([v / per for v in timer.per_pass_ms(span, key)])

        return {
            "parquet_out.write_table_ms": ms("pq_write", "parquet_out.write_table"),
            "parquet_compat.read_table_ms": ms("pq_scan", "parquet_compat.read_table"),
            "parquet_compat.read_file_info_ms": ms(
                "pq_lookup", "parquet_compat.read_file_info", self.lookups),
            "parquet_compat.read_page_index_ms": ms(
                "pq_lookup", "parquet_compat.read_page_index", self.lookups),
            "parquet_compat.read_column_with_levels_ms": ms(
                "pq_nested", "parquet_compat.read_column_with_levels"),
            "parquet_compat.assemble_repeated_ms": ms(
                "pq_nested", "parquet_compat.assemble_repeated"),
        }


# -- near_dup ----------------------------------------------------------------


class NearDup(Workload):
    """Seeded documents with planted exact and near duplicates ->
    ``minhash_lsh_pairs(num_hashes=32, bands=8)`` -> local parquet pair
    store -> ``ngram_jaccard_pairs`` verification. Every planted pair must
    be a candidate and must verify. Unit: document."""

    write_span, read_span = "near_dup", "near_dup_verify"
    size, warm_size, min_size = 1_500, 200, 200
    words, vocab = 120, 20_000
    threshold = 0.8

    def setup(self) -> None:
        import pyarrow as pa

        rng = np.random.default_rng(self.seed)
        n = self.n
        vocab = np.array([f"w{i}" for i in range(self.vocab)], dtype=object)
        words = rng.integers(0, self.vocab, (n, self.words))
        n_plant = max(1, n // 50)
        # copies of docs [0, n_plant) are exact, of [n_plant, 2 n_plant) near:
        # one word replaced, which keeps 3-shingle Jaccard near 0.95
        near = words[n_plant:2 * n_plant].copy()
        pos = rng.integers(0, self.words, n_plant)
        rows = np.arange(n_plant)
        near[rows, pos] = (near[rows, pos] + rng.integers(1, self.vocab, n_plant)) % self.vocab
        all_words = np.concatenate([words, words[:n_plant], near])
        ids = rng.permutation(len(all_words)).astype(np.int64)
        texts = [" ".join(vocab[w]) for w in all_words]
        self.docs = _write_parts(
            self.run, pa.table({"doc_id": ids, "text": texts}), os.path.join(self.dir, "docs")
        )
        orig = ids[: 2 * n_plant]
        copy = ids[n:]
        self.planted = self.run.spark.createDataFrame(
            [(int(min(a, b)), int(max(a, b))) for a, b in zip(orig, copy)],
            "id_a long, id_b long",
        )
        self.write_units = self.read_units = len(all_words)

    def run_pass(self) -> None:
        from engine.ops import dedup

        run = self.run
        spark = run.spark
        cand_store, verified_store = self._fresh("pairs"), self._fresh("verified")
        cand = dedup.minhash_lsh_pairs(self.docs, num_hashes=32, bands=8)
        _, t_cand = run.op("near_dup", lambda: cand.write.parquet(cand_store), df=cand)
        pairs = spark.read.parquet(cand_store)
        run.check(self._missing(pairs) == 0, "near_dup: planted pairs are candidates")

        verified = dedup.ngram_jaccard_pairs(self.docs, pairs, threshold=self.threshold)
        run.op(
            "near_dup_verify", lambda: verified.write.parquet(verified_store), df=verified
        )
        run.check(
            self._missing(spark.read.parquet(verified_store)) == 0,
            "near_dup_verify: planted pairs verify",
        )
        run.record("near_dup_docs_per_s", self.write_units / t_cand)
        shutil.rmtree(cand_store)
        shutil.rmtree(verified_store)

    def _missing(self, pairs) -> int:
        return self.planted.join(
            pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
        ).count()


WORKLOADS = {
    "corpus": Corpus,
    "mixed_table": MixedTable,
    "parquet_file": ParquetFile,
    "near_dup": NearDup,
}
