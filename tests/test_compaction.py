"""Compaction + vacuum: streaming ingest leaves one run per
micro-batch; compact_encoded rewrites everything into one run with an
ATOMIC tombstones+commits lineage append, and vacuum_encoded reclaims
the superseded files (Iceberg rewrite_data_files / expire_snapshots
re-expressed on the engine's own manifest layout)."""

import json
import os

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from conftest import local_frame, placed
from tokcodec.io_tables import (
    compact_encoded,
    read_encoded,
    read_encoded_direct,
    vacuum_encoded,
    write_encoded,
)

pytestmark = pytest.mark.both_placements

SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("n_tok", T.IntegerType(), False),
    T.StructField("source", T.StringType(), False),
])


def _mk(spark, lo, hi):
    return local_frame(spark.createDataFrame(
        [Row(doc_id=f"d{i}", tokens=[i, 2 * i], n_tok=2, source=f"s{i % 3}")
         for i in range(lo, hi)],
        SCHEMA,
    ))


def _sum_tokens(df):
    return df.agg(
        F.sum(F.expr("aggregate(tokens, 0L, (a, x) -> a + x)"))
    ).collect()[0][0]


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """The three-run table, built once per placement (tests compact
    and vacuum it)."""
    out = {}
    for placement in ("driver", "tasks"):
        path = str(tmp_path_factory.mktemp("cmp") / "t")
        with placed(placement):
            for epoch, (lo, hi) in enumerate([(0, 50), (50, 120),
                                               (120, 200)]):
                write_encoded(_mk(spark, lo, hi), path, n_buckets=4,
                              run_id=f"r{epoch}", epoch=epoch)
        out[placement] = path
    return out


@pytest.fixture
def table(tables, placement):
    return tables[placement]


def test_compact_preserves_data_and_supersedes_runs(spark, table):
    before = read_encoded(spark, table)
    n0, s0 = before.count(), _sum_tokens(before)
    res = compact_encoded(spark, table, run_id="cmp1")
    assert res["superseded"] == 12  # 4 buckets x 3 epochs
    assert res["rows"] == 200 and res["buckets"] == 4

    after = read_encoded(spark, table)
    assert after.count() == n0 == 200
    assert _sum_tokens(after) == s0
    # only the compacted run is live
    lin = spark.read.parquet(os.path.join(table, "lineage"))
    from tokcodec.lineage import committed

    live = committed(lin).select("run_id").distinct().collect()
    assert {r.run_id for r in live} == {"cmp1"}
    # direct reader agrees
    assert _sum_tokens(read_encoded_direct(spark, table)) == s0


def test_vacuum_after_compact(spark, table):
    # (runs after the compaction above in module order)
    blocks = os.path.join(table, "blocks")

    def files():
        out = set()
        for root, _d, fs in os.walk(blocks):
            out.update(os.path.join(root, f) for f in fs)
        return out

    before = files()
    res = vacuum_encoded(spark, table)
    assert res["deleted_files"] > 0
    assert res["deleted_run_manifests"] == 3  # r0 r1 r2
    after = files()
    assert after < before
    # reads still exact after vacuum
    got = read_encoded(spark, table)
    assert got.count() == 200
    assert _sum_tokens(got) == sum(3 * i for i in range(200))
    # every remaining file is referenced by the live run manifest
    m = json.loads(open(os.path.join(table, "_runs", "cmp1.json")).read())
    listed = {os.path.join(blocks, f["path"]) for f in m["files"]}
    assert after == listed


def test_compact_rebuckets(spark, tmp_path):
    """Compaction is the one safe point to change n_buckets (lineage
    and resume keys are bucket-addressed)."""
    path = str(tmp_path / "t")
    write_encoded(_mk(spark, 0, 100), path, n_buckets=2, run_id="a")
    res = compact_encoded(spark, path, run_id="c", n_buckets=5)
    assert res["buckets"] == 5
    got = read_encoded(spark, path)
    assert got.count() == 100 and _sum_tokens(got) == sum(3 * i for i in range(100))
    m = json.loads(open(os.path.join(path, "_manifest.json")).read())
    assert m["n_buckets"] == 5
    # appends after rebucketing follow the new bucket count
    write_encoded(_mk(spark, 100, 130), path, n_buckets=5, run_id="b",
                  epoch=res["epoch"] + 1)
    assert read_encoded(spark, path).count() == 130


def test_compact_preserves_uuid_columns(spark, tmp_path):
    import uuid as _uuid

    path = str(tmp_path / "t")
    df = local_frame(spark.createDataFrame(
        [Row(doc_id=str(_uuid.UUID(int=i)), tokens=[i], n_tok=1, source="s")
         for i in range(40)],
        SCHEMA,
    ))
    write_encoded(df, path, n_buckets=2, run_id="a",
                  uuid_columns=["doc_id"])
    compact_encoded(spark, path, run_id="c")
    ids = sorted(r.doc_id for r in
                 read_encoded(spark, path).select("doc_id").collect())
    assert ids == sorted(str(_uuid.UUID(int=i)) for i in range(40))


def test_tombstone_hides_epoch(spark, tmp_path):
    """The supersede primitive directly: a later tombstone row hides a
    committed (bucket, epoch) from every reader."""
    import time

    path = str(tmp_path / "t")
    write_encoded(_mk(spark, 0, 30), path, n_buckets=2, run_id="a", epoch=0)
    write_encoded(_mk(spark, 30, 60), path, n_buckets=2, run_id="b", epoch=1)
    assert read_encoded(spark, path).count() == 60
    from tokcodec.schema import LINEAGE_DDL

    ts = float(time.time()) + 1
    tombs = spark.createDataFrame(
        [("x", bkt, 1, "tombstone", 0, 0, 0, 0.0, "{}", 0, 0, 0.0, ts)
         for bkt in (0, 1)],
        LINEAGE_DDL,
    )
    tombs.write.mode("append").parquet(os.path.join(path, "lineage"))
    assert read_encoded(spark, path).count() == 30
    assert read_encoded_direct(spark, path).count() == 30
