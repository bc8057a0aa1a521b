"""Incremental (CDC-append) reads: ``since_epoch`` feeds a downstream
consumer only the rows committed after its checkpoint — Iceberg's
incremental append scan over the engine's epoch lineage. Composes
with ``as_of_epoch`` into an (since, as_of] window."""

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from tokcodec.io_tables import (
    compact_encoded,
    delete_encoded,
    read_encoded,
    read_encoded_direct,
    write_encoded,
)

# every test also runs as "<test>[tasks]" with the scan's task
# placement forced (tests/conftest.py)
pytestmark = pytest.mark.both_placements

SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("n_tok", T.IntegerType(), False),
    T.StructField("source", T.StringType(), False),
])


def _mk(spark, lo, hi):
    return spark.createDataFrame(
        [Row(doc_id=f"d{i}", tokens=[i], n_tok=1, source="s")
         for i in range(lo, hi)],
        SCHEMA,
    )


@pytest.fixture()
def table(spark, tmp_path):
    # three append epochs, like three streaming micro-batches
    path = str(tmp_path / "tbl")
    write_encoded(_mk(spark, 0, 10), path, n_buckets=2,
                  run_id="e0", epoch=0)
    write_encoded(_mk(spark, 10, 25), path, n_buckets=2,
                  run_id="e1", epoch=1)
    write_encoded(_mk(spark, 25, 30), path, n_buckets=2,
                  run_id="e2", epoch=2)
    return path


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def test_incremental_window_both_readers(spark, table):
    want = sorted(f"d{i}" for i in range(10, 30))
    assert _ids(read_encoded(spark, table, since_epoch=0)) == want
    assert _ids(read_encoded_direct(spark, table, since_epoch=0)) == want
    assert read_encoded(spark, table, since_epoch=2).count() == 0
    # (since, as_of] window: exactly epoch 1
    mid = read_encoded(spark, table, since_epoch=0, as_of_epoch=1)
    assert _ids(mid) == sorted(f"d{i}" for i in range(10, 25))
    middir = read_encoded_direct(spark, table, since_epoch=0,
                                 as_of_epoch=1)
    assert _ids(middir) == _ids(mid)


def test_incremental_respects_deletes(spark, table):
    delete_encoded(spark, table, "doc_id", ["d12", "d2"])
    inc = _ids(read_encoded(spark, table, since_epoch=0))
    assert "d12" not in inc and len(inc) == 19


def test_incremental_after_compaction_reemits(spark, table):
    # the documented caveat: a rewrite re-commits surviving rows at a
    # fresh epoch, so a window crossing it re-emits them
    compact_encoded(spark, table)
    inc = read_encoded(spark, table, since_epoch=2)
    assert inc.count() == 30
