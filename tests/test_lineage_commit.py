"""The lineage commit must be O(buckets of this run), never O(table):
appending a run may not read any pre-existing payload block files
(round-1 verdict: the old commit re-scanned the whole blocks directory
per write — fatal at 100 TB)."""

import os

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from conftest import local_frame
from tokcodec.io_tables import read_encoded, write_encoded

pytestmark = pytest.mark.both_placements

SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("n_tok", T.IntegerType(), False),
    T.StructField("source", T.StringType(), False),
])


def _mk(spark, lo, hi):
    return local_frame(spark.createDataFrame(
        [Row(doc_id=f"d{i}", tokens=[i, i + 1, i + 2], n_tok=3,
             source=f"s{i % 3}") for i in range(lo, hi)],
        SCHEMA,
    ))


def test_append_never_reads_existing_payload_blocks(spark, tmp_path):
    path = os.path.join(str(tmp_path), "t")
    write_encoded(_mk(spark, 0, 50), path, n_buckets=2, run_id="r1", epoch=0)

    # trash every pre-existing payload file of a data column: if the
    # second commit scans them, the parquet reader blows up
    col_dir = os.path.join(path, "blocks", "col-tokens")
    victims = [f for f in os.listdir(col_dir) if f.endswith(".parquet")]
    assert victims
    for f in victims:
        with open(os.path.join(col_dir, f), "wb") as fh:
            fh.write(b"not a parquet file")

    res = write_encoded(_mk(spark, 50, 100), path, n_buckets=2,
                        run_id="r2", epoch=1)
    assert res["buckets"] == 4  # 2 per epoch, both committed

    # lineage for the new run is correct without having read old blocks
    lin = spark.read.parquet(os.path.join(path, "lineage"))
    r2 = lin.filter(F.col("run_id") == "r2")
    assert r2.count() == 2
    row = r2.agg(F.sum("n_rows"), F.min("enc_bytes"),
                 F.min("checksum")).collect()[0]
    assert row[0] == 50 and row[1] > 0 and row[2] > 0


def test_lineage_matches_block_contents(spark, tmp_path):
    # the metrics-row-derived commit must agree with a direct aggregate
    # over the written data blocks (bytes, rows, checksum sum)
    path = os.path.join(str(tmp_path), "t2")
    write_encoded(_mk(spark, 0, 40), path, n_buckets=2, run_id="r1")
    blocks = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(path, "blocks"))
    data = blocks.filter(F.col("column") != "__bucket_metrics__")
    per_bucket = data.groupBy("bucket").agg(
        F.sum("orig_bytes").alias("ob"),
        F.sum("enc_bytes").alias("eb"),
        F.sum("checksum").alias("ck"),
    )
    lin = spark.read.parquet(os.path.join(path, "lineage"))
    joined = lin.join(per_bucket, "bucket").collect()
    assert len(joined) == 2
    for r in joined:
        assert r["orig_bytes"] == r["ob"]
        assert r["enc_bytes"] == r["eb"]
        assert r["checksum"] == r["ck"]
        assert abs(r["ratio"] - r["eb"] / r["ob"]) < 1e-12


def test_maintenance_commits_append_one_local_lineage_file(spark, tmp_path):
    # upsert, delete and compact commit through the same driver-side
    # routine as write_encoded: each adds exactly one
    # part-<uuid>-local.parquet to lineage/ (no Spark job output, so no
    # _SUCCESS marker and no leftover temp file) and the table stays
    # correct after each
    import re

    from tokcodec.io_tables import (
        compact_encoded,
        delete_encoded,
        upsert_encoded,
    )

    path = os.path.join(str(tmp_path), "t")
    write_encoded(_mk(spark, 0, 30), path, n_buckets=3, run_id="r0")
    write_encoded(_mk(spark, 30, 60), path, n_buckets=3, run_id="r1",
                  epoch=1)
    lineage = os.path.join(path, "lineage")
    up = _mk(spark, 5, 7).withColumn("source", F.lit("updated"))
    ops = [
        ("upsert", lambda: upsert_encoded(spark, path, up, "doc_id")),
        ("delete", lambda: delete_encoded(spark, path, "doc_id",
                                          ["d1", "d40"])),
        ("compact", lambda: compact_encoded(spark, path)),
    ]
    for name, op in ops:
        before = set(os.listdir(lineage))
        op()
        after = set(os.listdir(lineage))
        new = after - before
        assert len(new) == 1 and before <= after, (name, new)
        assert re.fullmatch(r"part-[0-9a-f]{32}-local\.parquet",
                            new.pop()), name
        assert not [f for f in after if not f.endswith("-local.parquet")], \
            (name, sorted(after))
        got = {r.doc_id: r.source for r in read_encoded(spark, path)
               .select("doc_id", "source").collect()}
        want = {f"d{i}": f"s{i % 3}" for i in range(60)}
        want.update({"d5": "updated", "d6": "updated"})
        if name != "upsert":
            del want["d1"], want["d40"]
        assert got == want, name
