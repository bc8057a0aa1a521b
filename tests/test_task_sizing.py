"""One wave of Python tasks per operation: the write's encode stage,
the scan and the co-bucketed join each run one task per core
(io_tables._task_slots), and the write places buckets exactly — each
task an equal, contiguous slice, the same slice the scan gives its
task — so every block file covers one bucket range."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row, functions as F

from tokcodec.encode import METRICS_COLUMN, encode_table
from tokcodec.io_tables import read_encoded, write_encoded
from tokcodec.joins import join_encoded


def _df(spark, n):
    return spark.createDataFrame(
        [Row(doc_id=f"d{i:05d}", k=i, tokens=[i, i + 1]) for i in range(n)],
        "doc_id string, k int, tokens array<int>",
    )


def _data_files(path, run_id):
    with open(os.path.join(path, "_runs", f"{run_id}.json")) as f:
        files = json.load(f)["files"]
    by_col: dict[str, list] = {}
    for f in files:
        if f["column"] != METRICS_COLUMN:
            by_col.setdefault(f["column"], []).append(f["bucket_ranges"])
    return by_col


def test_write_places_equal_contiguous_bucket_slices(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    assert cores == 8  # the test session is local[8]
    path = str(tmp_path / "t")
    write_encoded(_df(spark, 2000), path, n_buckets=16, run_id="r1")
    by_col = _data_files(path, "r1")
    assert sorted(by_col) == ["doc_id", "k", "tokens"]
    for col, ranges in by_col.items():
        assert len(ranges) == 8, (col, ranges)
        # one contiguous 2-bucket range per file ...
        assert sorted(ranges) == [[[2 * i, 2 * i + 1]] for i in range(8)]
        # ... and together they cover buckets 0..15 exactly once
        covered = sorted(b for r in ranges for lo, hi in r
                         for b in range(lo, hi + 1))
        assert covered == list(range(16))


@pytest.mark.task_placement  # the scan's tasks, not its driver placement
def test_scan_and_join_run_one_task_per_core(spark, tmp_path):
    cores = spark.sparkContext.defaultParallelism
    for n_buckets in (16, 3):
        path = str(tmp_path / f"t{n_buckets}")
        write_encoded(_df(spark, 400), path, n_buckets=n_buckets,
                      salt_cols=("doc_id",))
        want = min(n_buckets, cores)
        assert read_encoded(spark, path).rdd.getNumPartitions() == want
        joined = join_encoded(spark, path, path, on="doc_id",
                              how="left_semi")
        assert joined.rdd.getNumPartitions() == want
        assert joined.count() == 400


def test_encode_table_map_mode_one_bucket_per_task(spark):
    blocks = encode_table(_df(spark, 800), n_buckets=8, mode="map")
    per_task = (blocks.groupBy(F.spark_partition_id().alias("p"))
                .agg(F.countDistinct("bucket").alias("n"))
                .collect())
    assert per_task and all(r.n == 1 for r in per_task), per_task
    assert blocks.select("bucket").distinct().count() == 8
