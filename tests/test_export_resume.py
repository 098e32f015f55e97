"""Resumable parquet export (engine/jobs/export.py): deterministic
bucket units, one engine-parquet file per unit, atomic commit, and the
three-run resume contract the chunk store already honors — partial run,
resumed run completes the rest, third run writes 0."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine.jobs import export as export_job


def _frame(sources):
    rng = np.random.default_rng(7)
    rows = []
    for s in sources:
        for i in range(400):
            rows.append((f"{s}-{i:05d}", s, int(rng.integers(0, 10**6)),
                         None if i % 19 == 0 else f"txt {s} {i}"))
    return pd.DataFrame(rows, columns=["doc_id", "source", "score", "text"])


@pytest.fixture(scope="module")
def table(spark):
    pdf = _frame(["a", "b", "c", "d"])
    df = spark.createDataFrame(pdf)
    df.persist().count()
    return df, pdf


def test_full_export_roundtrips(spark, table, tmp_path):
    df, pdf = table
    out = str(tmp_path / "full")
    manifest = export_job.export_parquet(
        df, out, bucket_key="source", salt_col="doc_id",
        rows_per_bucket=128, codec="snappy",
    ).collect()
    assert all(not r.resumed for r in manifest)
    assert sum(r.rows for r in manifest) == len(pdf)
    assert len(manifest) == len(os.listdir(out))
    back = spark.read.parquet(out).toPandas()
    a = back.sort_values("doc_id").reset_index(drop=True)[pdf.columns]
    b = pdf.sort_values("doc_id").reset_index(drop=True)
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert a["score"].tolist() == b["score"].tolist()
    assert a["text"].fillna("~").tolist() == b["text"].fillna("~").tolist()


def test_resume_three_run_contract(spark, table, tmp_path):
    """Run 1 exports HALF the sources (the killed job), run 2 exports the
    full input resuming run 1's units, run 3 writes nothing."""
    df, pdf = table
    out = str(tmp_path / "resume")
    part1 = export_job.export_parquet(
        df.where(F.col("source").isin("a", "b")), out,
        bucket_key="source", salt_col="doc_id", rows_per_bucket=128,
    ).collect()
    n1 = len(part1)
    assert n1 == len(os.listdir(out))

    part2 = export_job.export_parquet(
        df, out, bucket_key="source", salt_col="doc_id",
        rows_per_bucket=128,
    ).collect()
    resumed = [r for r in part2 if r.resumed]
    written = [r for r in part2 if not r.resumed]
    assert len(resumed) == n1  # every run-1 unit skipped
    assert all(r.rows is None for r in resumed)
    assert sum(r.rows for r in written) == 2 * 400  # sources c, d only

    part3 = export_job.export_parquet(
        df, out, bucket_key="source", salt_col="doc_id",
        rows_per_bucket=128,
    ).collect()
    assert all(r.resumed for r in part3)  # third run writes 0
    assert len(part3) == len(part2)

    back = spark.read.parquet(out)
    assert back.count() == len(pdf)
    assert back.select("doc_id").distinct().count() == len(pdf)


def test_deterministic_bytes_per_unit(spark, table, tmp_path):
    """A retried attempt must commit byte-identical content: two
    independent full exports produce identical files name-by-name."""
    df, _ = table
    o1, o2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    for o in (o1, o2):
        export_job.export_parquet(
            df, o, bucket_key="source", salt_col="doc_id",
            rows_per_bucket=128, resume=False,
        ).collect()
    f1, f2 = sorted(os.listdir(o1)), sorted(os.listdir(o2))
    assert f1 == f2
    for f in f1:
        b1 = open(os.path.join(o1, f), "rb").read()
        b2 = open(os.path.join(o2, f), "rb").read()
        assert b1 == b2, f


def test_leftover_tmp_is_ignored(spark, table, tmp_path):
    """A .tmp orphan from a killed attempt neither blocks nor is counted
    by the resumed run."""
    df, pdf = table
    out = str(tmp_path / "tmporphan")
    os.makedirs(out)
    orphan = os.path.join(out, "_tmp-deadbeef-part-" + "a" * 32 + ".parquet")
    with open(orphan, "wb") as f:
        f.write(b"garbage")
    manifest = export_job.export_parquet(
        df, out, bucket_key="source", salt_col="doc_id",
        rows_per_bucket=128,
    ).collect()
    assert all(not r.resumed for r in manifest)
    assert not os.path.exists(orphan)  # dead tmp swept at job start
    assert spark.read.parquet(out).count() == len(pdf)


def test_scalar_nulls_roundtrip_as_real_nulls(spark, tmp_path):
    """Scalar validity comes off the Arrow bitmap: int NULLs neither
    crash nor become INT_MIN, and double NULLs stay distinguishable from
    genuine NaN VALUES (r7 review pass 6 #1/#2)."""
    import math

    import pyarrow.parquet as pq

    df = spark.createDataFrame(
        [("a", "s", 1, 1.5), ("b", "s", None, None),
         ("c", "s", 3, float("nan")), ("d", "s", None, 2.5)],
        "doc_id string, source string, v bigint, d double",
    )
    out = str(tmp_path / "nulls")
    export_job.export_parquet(
        df, out, bucket_key="source", salt_col="doc_id",
        rows_per_bucket=16,
    )
    t = pq.read_table(out).to_pylist()
    by_id = {r["doc_id"]: r for r in t}
    assert by_id["a"]["v"] == 1 and by_id["b"]["v"] is None
    assert by_id["b"]["d"] is None  # NULL stays NULL...
    assert math.isnan(by_id["c"]["d"])  # ...while the NaN VALUE stays NaN
    assert by_id["d"]["v"] is None and by_id["d"]["d"] == 2.5
    back = spark.read.parquet(out)
    assert back.where("v IS NULL").count() == 2
    assert back.where("d IS NULL").count() == 1


def test_null_list_elements_roundtrip(spark, tmp_path):
    """Element NULLs come off the child validity bitmap: int-list NULLs
    neither crash nor become INT_MIN (r7 review pass 6 #1), and float-list
    element NULLs stay distinguishable from genuine NaN values."""
    import math

    import pyarrow.parquet as pq

    df = spark.createDataFrame(
        [("a", "s", [1, 2, None], [1.5, None]),
         ("b", "s", [3], [float("nan"), 2.5]),
         ("c", "s", None, [])],
        "doc_id string, source string, xs array<int>, fs array<double>",
    )
    out = str(tmp_path / "ne")
    export_job.export_parquet(
        df, out, bucket_key="source", salt_col="doc_id",
    )
    rows = {r["doc_id"]: r for r in pq.read_table(out).to_pylist()}
    assert rows["a"]["xs"] == [1, 2, None]
    assert rows["a"]["fs"] == [1.5, None]  # element NULL stays NULL...
    assert rows["b"]["xs"] == [3]
    assert math.isnan(rows["b"]["fs"][0])  # ...NaN VALUE stays NaN
    assert rows["b"]["fs"][1] == 2.5
    assert rows["c"]["xs"] is None and rows["c"]["fs"] == []
    back = spark.read.parquet(out)
    assert back.where("xs IS NULL").count() == 1


def test_duplicate_sort_keys_still_byte_deterministic(spark, tmp_path):
    """With a non-unique sort_col the remaining scalar columns tie-break
    the in-file order (r7 review pass 6 #3)."""
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "doc_id": [f"d{i:04d}" for i in range(600)],
        "source": ["s"] * 600,
        "lang": rng.choice(["en", "de"], 600),  # the (duplicate) sort key
        "score": rng.integers(0, 5, 600).astype(np.int64),
    })
    df = spark.createDataFrame(pdf).repartition(8)
    o1, o2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    for o in (o1, o2):
        export_job.export_parquet(
            df, o, bucket_key="source", salt_col="doc_id",
            sort_col="lang", rows_per_bucket=256, resume=False,
        )
    for f in sorted(os.listdir(o1)):
        assert open(os.path.join(o1, f), "rb").read() == \
            open(os.path.join(o2, f), "rb").read(), f


def test_list_rows_tiebreak_deterministically(spark, tmp_path):
    """Rows tying on every scalar but differing in list content — or
    ONLY in element-NULL vs NaN, or in a scalar double's NULL vs NaN —
    still commit byte-identical files across independent exports (r7
    review pass 8 #1)."""
    rows = [
        ("k", "s", [3, 1], [float("nan")], 0.5),
        ("k", "s", [1, 2], [None], 0.5),
        ("k", "s", None, [2.5], 0.5),
        ("k", "s", [1, 2], [None, 1.0], 0.5),
        # tie on everything but a scalar NULL vs a NaN value
        ("k", "s", [4], [4.0], None),
        ("k", "s", [4], [4.0], float("nan")),
    ]
    schema = ("doc_id string, source string, xs array<int>, "
              "fs array<double>, d double")
    o1, o2 = str(tmp_path / "l1"), str(tmp_path / "l2")
    for o, order in ((o1, rows), (o2, rows[::-1])):
        df = spark.createDataFrame(order, schema).repartition(4)
        export_job.export_parquet(
            df, o, bucket_key="source", salt_col="doc_id", resume=False,
        )
    f1, f2 = sorted(os.listdir(o1)), sorted(os.listdir(o2))
    assert f1 == f2
    for f in f1:
        assert open(os.path.join(o1, f), "rb").read() == \
            open(os.path.join(o2, f), "rb").read(), f


def test_manifest_is_inert(spark, table, tmp_path):
    """The export runs exactly once inside the call; acting on the
    returned manifest repeatedly must not rewrite files (r7 review
    pass 6 #4)."""
    df, _ = table
    out = str(tmp_path / "inert")
    manifest = export_job.export_parquet(
        df, out, bucket_key="source", salt_col="doc_id",
        rows_per_bucket=128,
    )
    mtimes = {f: os.path.getmtime(os.path.join(out, f))
              for f in os.listdir(out)}
    assert manifest.count() == len(mtimes)
    manifest.collect()
    manifest.where("resumed").count()
    after = {f: os.path.getmtime(os.path.join(out, f))
             for f in os.listdir(out)}
    assert after == mtimes


def test_suffix_scoped_sweep_spares_other_suffixes(spark, table, tmp_path):
    """A suffixed run sweeps only ITS suffix's dead tmps — a concurrent
    differently-suffixed export's live tmp survives (r7 review pass 6
    #7)."""
    df, _ = table
    out = str(tmp_path / "sfx")
    os.makedirs(out)
    other = os.path.join(out, "_tmp-feed-part-b000002-" + "a" * 32
                         + ".parquet")
    mine = os.path.join(out, "_tmp-dead-part-b000001-" + "d" * 32
                        + ".parquet")
    for p in (other, mine):
        with open(p, "wb") as f:
            f.write(b"x")
    export_job.export_parquet(
        df, out, bucket_key="source", salt_col="doc_id",
        rows_per_bucket=256, chunk_suffix="b000001",
    )
    assert os.path.exists(other)  # the other stream's tmp untouched
    assert not os.path.exists(mine)  # my dead tmp swept


def test_streaming_parquet_sink_exactly_once(spark, tmp_path):
    """export_stream: two micro-batches land as batch-scoped unit files;
    replaying the stream from the same checkpoint writes nothing new and
    an independent rerun over the same source dedups via unit names."""
    from engine import datagen, streaming

    src_dir = str(tmp_path / "incoming")
    os.makedirs(src_dir)
    pdf = datagen.generate_pandas(200, seed=41)
    spark.createDataFrame(pdf.iloc[:100]).write.parquet(src_dir + "/p1")
    spark.createDataFrame(pdf.iloc[100:]).write.parquet(src_dir + "/p2")
    static = spark.read.option("recursiveFileLookup", "true").parquet(src_dir)

    def stream():
        return (
            spark.readStream.schema(static.schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )

    out = str(tmp_path / "sink")
    q = streaming.export_stream(
        stream(), out, checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"availableNow": True}, rows_per_bucket=64,
    )
    q.awaitTermination(120)
    files1 = sorted(os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == 200
    assert back.select("doc_id").distinct().count() == 200
    got = {r.doc_id: list(r.tokens) for r in back.collect()}
    want = {r.doc_id: list(r.tokens) for r in pdf.itertuples()}
    assert got == want  # token arrays bit-identical through the sink

    # restart from the SAME checkpoint: availableNow replays nothing new
    q2 = streaming.export_stream(
        stream(), out, checkpoint_dir=str(tmp_path / "ckpt"),
        trigger={"availableNow": True}, rows_per_bucket=64,
    )
    q2.awaitTermination(120)
    assert sorted(os.listdir(out)) == files1
    assert spark.read.parquet(out).count() == 200


def test_bigint_beyond_2p53_with_nulls_roundtrips(spark, tmp_path):
    """int64 values beyond 2^53 next to NULLs come back exact, both in a
    bigint column and as array<bigint> elements next to a NULL element:
    values and validity come off the Arrow buffers, nothing widens to
    float64."""
    import pyarrow.parquet as pq

    big = 2**53 + 1
    cases = [
        ("v bigint", [("a", "s", big), ("b", "s", None), ("c", "s", 7)]),
        ("xs array<bigint>",
         [("a", "s", [None, big]), ("b", "s", [-big, None, 7]),
          ("c", "s", None)]),
    ]
    for i, (col, rows) in enumerate(cases):
        df = spark.createDataFrame(rows, f"doc_id string, source string, {col}")
        out = str(tmp_path / f"big{i}")
        export_job.export_parquet(
            df, out, bucket_key="source", salt_col="doc_id",
        )
        name = col.split()[0]
        want = {r[0]: r[2] for r in rows}
        assert {r["doc_id"]: r[name]
                for r in pq.read_table(out).to_pylist()} == want
        back = spark.read.parquet(out).collect()
        assert {r.doc_id: r[name] for r in back} == want


def test_null_bucket_key_rejected(spark, tmp_path):
    """NULL bucket keys collapse into a degenerate unsalted unit the
    resume enumeration cannot reproduce — refuse up front (r7 review
    pass 7 #2)."""
    df = spark.createDataFrame(
        [("a", None, 1), ("b", "s", 2)],
        "doc_id string, source string, v bigint",
    )
    with pytest.raises(ValueError, match="contains NULLs"):
        export_job.export_parquet(
            df, str(tmp_path / "nk"), bucket_key="source",
            salt_col="doc_id",
        )


def test_suffixless_run_ignores_suffixed_files(spark, table, tmp_path):
    """A suffix-less export in a directory holding a suffixed stream's
    output must neither sweep the stream's live tmp nor list its
    committed files as resume candidates (r7 review pass 7 #5)."""
    df, pdf = table
    out = str(tmp_path / "mixed")
    os.makedirs(out)
    stream_tmp = os.path.join(
        out, "_tmp-abc-part-b000001-" + "0" * 32 + ".parquet"
    )
    with open(stream_tmp, "wb") as f:
        f.write(b"live")
    stream_file = os.path.join(out, "part-b000001-" + "1" * 32 + ".parquet")
    with open(stream_file, "wb") as f:
        f.write(b"committed")
    manifest = export_job.export_parquet(
        df, out, bucket_key="source", salt_col="doc_id",
        rows_per_bucket=256,
    ).collect()
    assert os.path.exists(stream_tmp)  # other job's live tmp untouched
    assert all(not r.resumed for r in manifest)  # foreign files ignored


def test_keyless_uniform_buckets(spark, table, tmp_path):
    """bucket_key=None exports uniform salted buckets over one logical
    key — unit count = ceil(rows / rows_per_bucket), no synthetic column
    leaks into the files."""
    df, pdf = table
    out = str(tmp_path / "keyless")
    manifest = export_job.export_parquet(
        df, out, bucket_key=None, salt_col="doc_id",
        rows_per_bucket=500,
    ).collect()
    assert len(manifest) == 4  # 1600 rows / 500
    back = spark.read.parquet(out)
    assert back.columns == df.columns  # no __all leak
    assert back.count() == len(pdf)


def test_cli_export_parquet(tmp_path):
    import subprocess
    import sys

    out = str(tmp_path / "cliexp")
    for expect in ("1 unit files written (500 rows)",
                   "0 unit files written (0 rows), 1 resumed"):
        r = subprocess.run(
            [sys.executable, "-m", "engine.cli", "export-parquet",
             "/root/testdata/sf0.001/documents.parquet", out],
            capture_output=True, text=True, cwd="/root/repo",
        )
        assert r.returncode == 0, r.stderr[-800:]
        assert expect in r.stdout


def test_exported_files_are_prunable(spark, table, tmp_path):
    """Exports carry the full PageIndex, so a predicate read over an
    exported directory prunes row groups at plan time and pages inside
    tasks — the two r7 features compose."""
    from engine import parquet_compat as pc

    df, pdf = table
    out = str(tmp_path / "prunable")
    manifest = export_job.export_parquet(
        df, out, bucket_key="source", salt_col="doc_id",
        sort_col="doc_id", rows_per_bucket=256, page_size_rows=64,
    ).collect()
    paths = sorted(r.path for r in manifest)
    rep: dict = {}
    assert sorted(os.path.join(out, f) for f in os.listdir(out)) == paths
    got = pc.read_parquet_with_engine(
        spark, out,  # directory form — resolves to the same file list
        columns=["doc_id", "score"],
        predicate=[("doc_id", ">=", "a-00100"), ("doc_id", "<", "a-00110")],
        prune_stats=True, prune_report=rep,
    ).orderBy("doc_id").collect()
    expect = pdf[(pdf.doc_id >= "a-00100") & (pdf.doc_id < "a-00110")]
    assert [r.doc_id.decode() for r in got] == expect.doc_id.tolist()
    assert [r.score for r in got] == expect.score.tolist()
    assert rep["rg_planned"] < rep["rg_total"], rep


def test_external_readers_accept_output(spark, table, tmp_path):
    import duckdb
    import pyarrow.parquet as pq

    df, pdf = table
    out = str(tmp_path / "ext")
    export_job.export_parquet(
        df, out, bucket_key="source", salt_col="doc_id",
        rows_per_bucket=256,
    ).collect()
    n = duckdb.sql(f"SELECT COUNT(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
    assert n == len(pdf)
    t = pq.read_table(out)
    assert t.num_rows == len(pdf)
