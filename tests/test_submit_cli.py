"""The spark-submit entry point works end-to-end: encode via the CLI
in a separate spark-submit process, then decode in-process and verify."""

import json
import os
import shutil
import subprocess

from conftest import ROOT
from pyspark.sql import functions as F


def test_spark_submit_encode(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src")
    out = os.path.join(str(tmp_path), "enc")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from tokcodec.tokenize import documents_to_sequences

    documents_to_sequences(docs).write.parquet(src)

    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = dict(os.environ,
               PYTHONPATH=ROOT,
               SPARK_LOCAL_DIRS="/dev/shm")
    r = subprocess.run(
        [submit, "--master", "local[4]",
         "scripts/submit_encode.py",
         "--input", src, "--output", out, "--buckets", "0",
         "--run-id", "cli", "--bloom-columns", "doc_id"],
        cwd=ROOT, env=env, capture_output=True, text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    res = json.loads([ln for ln in r.stdout.splitlines()
                      if ln.startswith("{")][-1])
    # --buckets 0 exercises the auto-sizing path (tiny input -> 1)
    assert res["buckets"] == 1 and res["rows"] > 0

    from tokcodec.io_tables import read_encoded

    dec = read_encoded(spark, out)
    n = dec.count()
    assert n == res["rows"]
    # bloom from the CLI is live
    one = dec.limit(1).collect()[0]["doc_id"]
    hit = read_encoded(spark, out, eq_filter=("doc_id", one))
    assert hit.count() == 1
    assert hit.collect()[0]["n_tok"] == dec.filter(
        F.col("doc_id") == one).collect()[0]["n_tok"]


def test_spark_submit_decode(spark, tmp_path):
    src = os.path.join(str(tmp_path), "src2")
    enc = os.path.join(str(tmp_path), "enc2")
    out = os.path.join(str(tmp_path), "dec2")
    from tokcodec.io_tables import write_encoded
    from tokcodec.tokenize import documents_to_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seq = documents_to_sequences(docs)
    write_encoded(seq, enc, n_buckets=4, run_id="cli2")
    n_src = seq.count()

    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = dict(os.environ, PYTHONPATH=ROOT,
               SPARK_LOCAL_DIRS="/dev/shm")
    r = subprocess.run(
        [submit, "--master", "local[4]", "scripts/submit_decode.py",
         "--input", enc, "--output", out,
         "--columns", "doc_id,n_tok"],
        cwd=ROOT, env=env, capture_output=True, text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    res = json.loads([ln for ln in r.stdout.splitlines()
                      if ln.startswith("{")][-1])
    assert res["rows"] == n_src
    back = spark.read.parquet(out)
    assert sorted(back.columns) == ["doc_id", "n_tok"]
    assert back.agg(F.sum("n_tok")).collect()[0][0] == \
        seq.agg(F.sum("n_tok")).collect()[0][0]


def test_spark_submit_maintenance(spark, tmp_path):
    enc = os.path.join(str(tmp_path), "enc3")
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from tokcodec.io_tables import read_encoded, write_encoded

    sch = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
    ])

    def mk(lo, hi):
        return spark.createDataFrame(
            [Row(doc_id=f"d{i}", tokens=[i], n_tok=1, source="s")
             for i in range(lo, hi)], sch)

    write_encoded(mk(0, 40), enc, n_buckets=2, run_id="e0", epoch=0)
    write_encoded(mk(40, 90), enc, n_buckets=2, run_id="e1", epoch=1)

    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = dict(os.environ, PYTHONPATH=ROOT,
               SPARK_LOCAL_DIRS="/dev/shm")
    r = subprocess.run(
        [submit, "--master", "local[4]", "scripts/submit_maintenance.py",
         "--table", enc, "--compact", "--vacuum", "--run-id", "cmp"],
        cwd=ROOT, env=env, capture_output=True, text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    res = json.loads([ln for ln in r.stdout.splitlines()
                      if ln.startswith("{")][-1])
    assert res["compact"]["superseded"] == 4 and res["compact"]["rows"] == 90
    assert res["vacuum"]["deleted_files"] > 0
    got = read_encoded(spark, enc)
    assert got.count() == 90


def test_spark_submit_evolution_and_time_travel(spark, tmp_path):
    """CLI flags --schema-evolution (encode) and --as-of-epoch
    (decode) drive the Iceberg-style features end-to-end from
    spark-submit processes."""
    src0 = os.path.join(str(tmp_path), "s0")
    src1 = os.path.join(str(tmp_path), "s1")
    enc = os.path.join(str(tmp_path), "enc3")
    out = os.path.join(str(tmp_path), "dec3")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.filter(F.col("doc_id").cast("bigint") % 2 == 0) \
        .select("doc_id", "source", "n_chars").write.parquet(src0)
    docs.filter(F.col("doc_id").cast("bigint") % 2 != 0) \
        .select("doc_id", "source", "n_chars", "lang").write.parquet(src1)
    n0 = spark.read.parquet(src0).count()
    n1 = spark.read.parquet(src1).count()

    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = dict(os.environ, PYTHONPATH=ROOT,
               SPARK_LOCAL_DIRS="/dev/shm")

    def run(args):
        r = subprocess.run(
            [submit, "--master", "local[4]"] + args,
            cwd=ROOT, env=env, capture_output=True, text=True,
            timeout=420,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads([ln for ln in r.stdout.splitlines()
                           if ln.startswith("{")][-1])

    run(["scripts/submit_encode.py", "--input", src0, "--output", enc,
         "--buckets", "2", "--run-id", "e0", "--epoch", "0"])
    run(["scripts/submit_encode.py", "--input", src1, "--output", enc,
         "--buckets", "2", "--run-id", "e1", "--epoch", "1", "--resume",
         "--schema-evolution"])

    res = run(["scripts/submit_decode.py", "--input", enc,
               "--output", out, "--as-of-epoch", "0"])
    assert res["rows"] == n0
    res_all = run(["scripts/submit_decode.py", "--input", enc,
                   "--output", out])
    assert res_all["rows"] == n0 + n1
    back = spark.read.parquet(out)
    assert back.filter(F.col("lang").isNull()).count() >= n0


def test_spark_submit_delete_tag_incremental(spark, tmp_path):
    """Late-r5 CLI surface: --delete-column/--delete-keys (maintenance)
    and --as-of-tag/--since-epoch (decode) end-to-end from
    spark-submit processes."""
    enc = os.path.join(str(tmp_path), "enc5")
    out = os.path.join(str(tmp_path), "dec5")
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from tokcodec.io_tables import tag_encoded, write_encoded

    sch = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n_tok", T.IntegerType(), False),
    ])
    write_encoded(
        spark.createDataFrame(
            [Row(doc_id=f"d{i}", n_tok=1) for i in range(30)], sch),
        enc, n_buckets=2, run_id="e0", epoch=0)
    tag_encoded(spark, enc, "v0")
    write_encoded(
        spark.createDataFrame(
            [Row(doc_id=f"x{i}", n_tok=1) for i in range(10)], sch),
        enc, n_buckets=2, run_id="e1", epoch=1)

    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = dict(os.environ, PYTHONPATH=ROOT,
               SPARK_LOCAL_DIRS="/dev/shm")

    def run(args):
        r = subprocess.run(
            [submit, "--master", "local[4]"] + args,
            cwd=ROOT, env=env, capture_output=True, text=True,
            timeout=420,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads([ln for ln in r.stdout.splitlines()
                           if ln.startswith("{")][-1])

    res = run(["scripts/submit_maintenance.py", "--table", enc,
               "--delete-column", "doc_id",
               "--delete-keys", "d3,d4,x9"])
    assert res["delete"]["n_keys"] == 3
    assert run(["scripts/submit_decode.py", "--input", enc,
                "--output", out])["rows"] == 37
    # tag predates both the delete and the second epoch
    assert run(["scripts/submit_decode.py", "--input", enc,
                "--output", out, "--as-of-tag", "v0"])["rows"] == 30
    # incremental window: epoch 1 only, delete still applies
    assert run(["scripts/submit_decode.py", "--input", enc,
                "--output", out, "--since-epoch", "0"])["rows"] == 9


def test_spark_submit_contains_filter(spark, tmp_path):
    """--contains-filter end-to-end: an array<int> token column with
    element blooms, probed from a spark-submit process (int value
    parsed via the manifest schema, not guessed)."""
    enc = os.path.join(str(tmp_path), "enc6")
    out = os.path.join(str(tmp_path), "dec6")
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from tokcodec.io_tables import write_encoded

    sch = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.LongType(), False), False),
    ])
    write_encoded(
        spark.createDataFrame(
            [Row(doc_id=f"d{i}", tokens=[i * 8 + j for j in range(8)])
             for i in range(200)], sch),
        enc, n_buckets=2, run_id="e0", chunk_max_rows=32,
        bloom_columns=["tokens"])

    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = dict(os.environ, PYTHONPATH=ROOT,
               SPARK_LOCAL_DIRS="/dev/shm")
    r = subprocess.run(
        [submit, "--master", "local[4]", "scripts/submit_decode.py",
         "--input", enc, "--output", out,
         "--contains-filter", "tokens:403"],
        cwd=ROOT, env=env, capture_output=True, text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    res = json.loads([ln for ln in r.stdout.splitlines()
                      if ln.startswith("{")][-1])
    assert res["rows"] == 1
    back = spark.read.parquet(out).collect()
    assert back[0]["doc_id"] == "d50"  # 403 // 8

    # comma list = ANY-of (banned-token list); 9999 is absent
    r = subprocess.run(
        [submit, "--master", "local[4]", "scripts/submit_decode.py",
         "--input", enc, "--output", out,
         "--contains-filter", "tokens:403,168,9999"],
        cwd=ROOT, env=env, capture_output=True, text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    res = json.loads([ln for ln in r.stdout.splitlines()
                      if ln.startswith("{")][-1])
    assert res["rows"] == 2
    got = sorted(x["doc_id"] for x in spark.read.parquet(out).collect())
    assert got == ["d21", "d50"], got  # 168 // 8 = 21


def test_spark_submit_aggregate_and_sample(spark, tmp_path):
    """r5 CLI surface: --aggregate (scalar + :elements + --group-by)
    and --sample through real spark-submit processes."""
    from tokcodec.io_tables import write_encoded

    enc = str(tmp_path / "aggenc")
    out = str(tmp_path / "aggout")
    df = spark.range(600).select(
        F.col("id").alias("k"),
        (F.col("id") / 150).cast("int").alias("day"),
        (F.col("id") * 3).alias("v"),
        F.sequence(F.lit(0).cast("int"),
                   (F.col("id") % 4).cast("int")).alias("tokens"))
    write_encoded(df.repartition(1), enc, n_buckets=2,
                  chunk_max_rows=64, cluster_by="day")
    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = dict(os.environ, PYTHONPATH=ROOT,
               SPARK_LOCAL_DIRS="/dev/shm")

    def run(args):
        r = subprocess.run(
            [submit, "--master", "local[4]"] + args,
            cwd=ROOT, env=env, capture_output=True, text=True,
            timeout=420,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return json.loads([ln for ln in r.stdout.splitlines()
                           if ln.startswith("{")][-1])

    res = run(["scripts/submit_decode.py", "--input", enc,
               "--aggregate", "v", "--range-filter", "k:60:539"])
    assert res["rows"] == 480
    assert int(res["sum"]) == sum(i * 3 for i in range(60, 540))
    assert res["chunks_meta"] > 0

    tok = run(["scripts/submit_decode.py", "--input", enc,
               "--aggregate", "tokens:elements"])
    want_el = df.select(F.explode("tokens").alias("e"))
    assert tok["rows"] == want_el.count()
    assert int(tok["sum"]) == want_el.agg(F.sum("e")).collect()[0][0]

    g = run(["scripts/submit_decode.py", "--input", enc,
             "--aggregate", "v", "--group-by", "day",
             "--output", out])
    assert g["chunks_meta"] > 0
    back = spark.read.parquet(out)
    assert back.count() == 4
    assert back.agg(F.sum("n_rows")).collect()[0][0] == 600

    s = run(["scripts/submit_decode.py", "--input", enc,
             "--sample", "0.5:3", "--output", out])
    assert 0 < s["rows"] < 600


def test_spark_submit_quantile(spark, tmp_path):
    from tokcodec.io_tables import write_encoded

    enc = str(tmp_path / "qenc")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 997).alias("v"))
    write_encoded(df.repartition(1), enc, n_buckets=2,
                  chunk_max_rows=100, cluster_by="v")
    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = dict(os.environ, PYTHONPATH=ROOT,
               SPARK_LOCAL_DIRS="/dev/shm")
    r = subprocess.run(
        [submit, "--master", "local[4]", "scripts/submit_decode.py",
         "--input", enc, "--quantile", "v:0.5,0.99"],
        cwd=ROOT, env=env, capture_output=True, text=True,
        timeout=420)
    assert r.returncode == 0, r.stderr[-2000:]
    res = json.loads([ln for ln in r.stdout.splitlines()
                      if ln.startswith("{")][-1])
    vals = sorted((i * 7 % 997) for i in range(1000))
    import math

    assert int(res["quantiles"]["0.5"]) == vals[max(1, math.ceil(0.5 * 1000)) - 1]
    assert int(res["quantiles"]["0.99"]) == vals[max(1, math.ceil(0.99 * 1000)) - 1]
    assert res["chunks_decoded"] < res["chunks_total"]


def test_spark_submit_changes(spark, tmp_path):
    """--changes writes the NET changelog parquet and reports counts."""
    enc = os.path.join(str(tmp_path), "enc_cdc")
    out = os.path.join(str(tmp_path), "cdc_out")
    from tokcodec.io_tables import delete_encoded, write_encoded

    base = spark.range(40).select(F.col("id").alias("k"),
                                  (F.col("id") * 3).alias("v"))
    write_encoded(base, enc, n_buckets=2, run_id="a", epoch=0)
    more = spark.range(40, 60).select(F.col("id").alias("k"),
                                      (F.col("id") * 3).alias("v"))
    write_encoded(more, enc, n_buckets=2, run_id="b", epoch=1,
                  resume=True)
    delete_encoded(spark, enc, "k", [1, 45])  # epoch 2

    submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = dict(os.environ, PYTHONPATH=ROOT,
               SPARK_LOCAL_DIRS="/dev/shm")
    r = subprocess.run(
        [submit, "--master", "local[4]",
         "scripts/submit_decode.py",
         "--input", enc, "--output", out,
         "--changes", "--since-epoch", "0"],
        cwd=ROOT, env=env, capture_output=True, text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    res = json.loads([ln for ln in r.stdout.splitlines()
                      if ln.startswith("{")][-1])
    # window (0, 2]: 20 appended rows minus the deleted 45 -> 19
    # inserts; k=1 was visible at epoch 0 -> 1 delete row
    assert res["changes"] == {"insert": 19, "delete": 1}, res
    chg = spark.read.parquet(out)
    assert chg.filter((F.col("_change_type") == "delete")
                      & (F.col("k") == 1)).count() == 1
