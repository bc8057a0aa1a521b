"""Run-manifest planning over many runs (round-3 verdict #2): a table
with many committed runs (streaming epochs) must not pay one serial
driver-side small-file read per run at planning time — from
_META_IO_FANOUT_MIN runs on, _run_files overlaps the manifest reads on
the metadata thread pool (io_tables._fan_out), Spark-free."""

import json
import os
import time

from pyspark.sql import Row
from pyspark.sql import types as T

from tokcodec.io_tables import (
    _META_IO_FANOUT_MIN as _RUN_MANIFEST_BATCH_MIN,
    _run_files,
    read_encoded,
    write_encoded,
)

SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("n_tok", T.IntegerType(), False),
])


def _fabricate(path: str, n_runs: int, files_per_run: int) -> None:
    os.makedirs(os.path.join(path, "_runs"), exist_ok=True)
    for i in range(n_runs):
        rid = f"r{i:04d}"
        files = [
            {"path": f"{rid}/part-{j}.parquet", "column": "doc_id",
             "bucket_ranges": [[j, j + 1]], "n_rows": 10, "bytes": 100}
            for j in range(files_per_run)
        ]
        with open(os.path.join(path, "_runs", f"{rid}.json"), "w") as f:
            json.dump({"run_id": rid, "epoch": i, "files": files}, f,
                      separators=(",", ":"))


def test_batched_equals_serial(spark, tmp_path):
    """The thread-pool path returns exactly what the serial path does,
    including an empty run manifest (files=[])."""
    path = str(tmp_path / "t")
    n = _RUN_MANIFEST_BATCH_MIN + 11
    _fabricate(path, n, files_per_run=3)
    # one empty run: resume-with-nothing-pending writes files=[]
    with open(os.path.join(path, "_runs", "rempty.json"), "w") as f:
        json.dump({"run_id": "rempty", "epoch": 99, "files": []}, f)
    rids = [f"r{i:04d}" for i in range(n)] + ["rempty"]

    batched = _run_files(path, rids)
    # serial reference: force the serial branch by chunking under the
    # threshold
    serial = []
    for i in range(0, len(rids), _RUN_MANIFEST_BATCH_MIN - 1):
        serial.extend(
            _run_files(path, rids[i:i + _RUN_MANIFEST_BATCH_MIN - 1]))
    key = lambda f: (f["run_id"], f["path"])  # noqa: E731
    assert sorted(batched, key=key) == sorted(serial, key=key)
    assert len(batched) == n * 3


def test_missing_manifest_raises(spark, tmp_path):
    path = str(tmp_path / "t")
    _fabricate(path, _RUN_MANIFEST_BATCH_MIN + 2, files_per_run=1)
    rids = [f"r{i:04d}" for i in range(_RUN_MANIFEST_BATCH_MIN + 2)]
    try:
        _run_files(path, rids + ["rghost"])
    except Exception:
        pass
    else:
        raise AssertionError("missing run manifest must raise")


def test_many_epoch_planning_not_linear(spark, tmp_path):
    """200 fabricated run manifests plan with overlapped reads: wall
    clock for 200 runs must stay well under 200/10 x the 10-run wall (a
    serial-loop regression would scale linearly in run count)."""
    path = str(tmp_path / "t")
    _fabricate(path, 200, files_per_run=2)
    all_rids = [f"r{i:04d}" for i in range(200)]

    # warm the JSON reader code path
    _run_files(path, all_rids[:20])
    t0 = time.monotonic()
    few = _run_files(path, all_rids[:20])
    t_few = time.monotonic() - t0
    t0 = time.monotonic()
    many = _run_files(path, all_rids)
    t_many = time.monotonic() - t0
    assert len(few) == 40 and len(many) == 400
    # linear scaling would put t_many ~ 10x t_few; the thread pool
    # keeps it near-constant. Generous 4x bound absorbs host noise.
    assert t_many < max(4 * t_few, 2.0), (t_few, t_many)


def test_real_multi_epoch_table_reads(spark, tmp_path):
    """An actually-appended table with epoch count above the batch
    threshold still round-trips (covers lineage -> batched manifests ->
    blocks planning end-to-end)."""
    path = str(tmp_path / "t")
    n_epochs = _RUN_MANIFEST_BATCH_MIN + 2
    for e in range(n_epochs):
        df = spark.createDataFrame(
            [Row(doc_id=f"e{e}d{i}", n_tok=e * 10 + i) for i in range(5)],
            SCHEMA)
        write_encoded(df, path, n_buckets=2, run_id=f"e{e}", epoch=e)
    out = read_encoded(spark, path)
    assert out.count() == 5 * n_epochs
    got = {r.doc_id for r in out.select("doc_id").collect()}
    assert f"e0d0" in got and f"e{n_epochs-1}d4" in got
