"""explain_scan: metadata-only pruning report that mirrors the real
reader's plan (same survivor machinery), never decodes values."""

import os

from pyspark.sql import Row, functions as F
from pyspark.sql import types as T
import pytest

from tokcodec.io_tables import explain_scan, read_encoded, write_encoded


def _table(spark, tmp_path):
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("ts", T.LongType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False),
                      False),
    ])
    rows = [Row(doc_id=f"d{i:05d}", ts=i,
                tokens=[(i * 4 + j) % 1000 + (i // 250) * 1000
                        for j in range(4)])
            for i in range(2000)]
    df = spark.createDataFrame(rows, schema)
    path = os.path.join(str(tmp_path), "t")
    write_encoded(df, path, n_buckets=2, run_id="r1",
                  chunk_max_rows=128, cluster_by="ts",
                  bloom_columns=["doc_id", "tokens"])
    return path


def test_no_filters_full_scan(spark, tmp_path):
    path = _table(spark, tmp_path)
    ex = explain_scan(spark, path)
    assert ex["rows_total"] == 2000
    assert ex["chunks_scanned"] == ex["chunks_total"] >= 16
    assert ex["bytes_scanned"] == ex["bytes_total"] > 0
    assert ex["selectivity"] == 1.0 and ex["buckets_total"] == 2


def test_range_filter_prunes_and_bounds_real_read(spark, tmp_path):
    path = _table(spark, tmp_path)
    ex = explain_scan(spark, path, range_filter=("ts", 100, 199))
    assert ex["chunks_scanned"] < ex["chunks_total"]
    assert ex["bytes_scanned"] < ex["bytes_total"]
    assert ex["filters"] == [
        {"kind": "range", "column": "ts",
         "chunks_surviving": ex["chunks_scanned"]}]
    # the report is an upper bound on the real (residual-exact) read
    n = read_encoded(spark, path,
                     range_filter=("ts", 100, 199)).count()
    assert n == 100 and ex["rows_scanned"] >= n
    # chunk granularity: the bound is tight-ish (<= 2 chunks per side)
    assert ex["rows_scanned"] <= 100 + 2 * 128 * 2


def test_combined_filters_intersect(spark, tmp_path):
    path = _table(spark, tmp_path)
    ex = explain_scan(spark, path,
                      range_filter=("ts", 0, 999),
                      eq_filter=("doc_id", "d00042"),
                      contains_filter=("tokens", [170, 5000]))
    kinds = sorted(f["kind"] for f in ex["filters"])
    assert kinds == ["contains", "eq", "range"]
    per = {f["kind"]: f["chunks_surviving"] for f in ex["filters"]}
    assert ex["chunks_scanned"] <= min(per.values())
    assert ex["chunks_scanned"] >= 1  # d00042 does contain token 170


def test_projection_scopes_bytes(spark, tmp_path):
    path = _table(spark, tmp_path)
    full = explain_scan(spark, path)
    proj = explain_scan(spark, path, columns=["doc_id"])
    assert 0 < proj["bytes_total"] < full["bytes_total"]


def test_unknown_filter_column_raises(spark, tmp_path):
    path = _table(spark, tmp_path)
    with pytest.raises(ValueError, match="not in encoded table"):
        explain_scan(spark, path, eq_filter=("nope", "x"))


def test_cli_explain(spark, tmp_path):
    """--explain from a spark-submit process prints the report JSON
    and writes nothing."""
    import json as _json
    import shutil as _shutil
    import subprocess as _sub

    path = _table(spark, tmp_path)
    submit = _shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    env = dict(os.environ, PYTHONPATH="/root/repo",
               SPARK_LOCAL_DIRS="/dev/shm")
    r = _sub.run(
        [submit, "--master", "local[4]", "scripts/submit_decode.py",
         "--input", path, "--explain",
         "--range-filter", "ts:100:199"],
        cwd="/root/repo", env=env, capture_output=True, text=True,
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    res = _json.loads([ln for ln in r.stdout.splitlines()
                       if ln.startswith("{")][-1])
    assert res["chunks_scanned"] < res["chunks_total"]
    assert res["filters"][0]["column"] == "ts"


def test_projected_unfiltered_counts_anchor_on_a_read_column(spark,
                                                             tmp_path):
    """An unfiltered explain of a projection that leaves out the
    schema's first field counts the chunks and rows of a projected
    column, not 0 of each; every other field keeps its value, and the
    file counts cover the projected columns' files."""
    path = _table(spark, tmp_path)
    full = explain_scan(spark, path)
    ex = explain_scan(spark, path, columns=["ts"])
    assert (ex["chunks_total"], ex["rows_total"]) \
        == (full["chunks_total"], full["rows_total"]) == (ex["chunks_scanned"],
                                                           2000)
    assert 0 < ex["bytes_total"] < full["bytes_total"]
    assert ex["files_total"] == 2 and ex["files_pruned"] == 0
    assert full["files_total"] == 6 and full["files_pruned"] == 0


def test_files_pruned_counts_the_runs_summaries_drop(spark, tmp_path):
    """On a table of two runs with disjoint keys, a range and a key
    lookup on one run's keys report the other run's files as pruned,
    and their chunks as not scanned, as the read does."""
    path = _table(spark, tmp_path)
    more = spark.createDataFrame(
        [Row(doc_id=f"e{i:05d}", ts=10_000 + i, tokens=[5000 + i])
         for i in range(500)], "doc_id string, ts bigint, tokens array<int>")
    write_encoded(more, path, n_buckets=2, run_id="r2", epoch=1,
                  chunk_max_rows=128, cluster_by="ts")
    # (filters, columns read): one file per bucket per column per run
    for kw, n_cols in (({"range_filter": ("ts", 10_100, 10_199)}, 3),
                       ({"eq_filter": ("doc_id", "e00007")}, 3),
                       ({"range_filter": ("ts", 100, 199),
                         "columns": ["doc_id"]}, 2)):
        ex = explain_scan(spark, path, **kw)
        per_run = 2 * n_cols
        assert ex["files_total"] == 2 * per_run, (kw, ex)
        assert ex["files_pruned"] >= per_run, (kw, ex)
        assert ex["rows_scanned"] >= read_encoded(spark, path, **kw).count()
