"""Snapshot-schema time travel (r5, r4 verdict #5): a run's schema is
fixed at write (reference semantics — CarpetReader reads what the
parquet footer says, CarpetReader.java; Iceberg snapshot-schema
projection): an `as_of_epoch` / `as_of_ts` read projects the UNION of
the participating runs' stored schemas, so a column added by schema
evolution AFTER the target epoch does NOT appear in the historical
read — instead of the pre-r5 behavior (current superset schema with
null fill, now only the legacy fallback for old run manifests)."""

import os

import pytest

from tokcodec.io_tables import (
    read_encoded,
    read_encoded_direct,
    write_encoded,
)


@pytest.fixture(scope="module")
def evolved(spark, tmp_path_factory):
    """epoch 0: (doc_id, n); epoch 1 adds nullable `extra`."""
    path = str(tmp_path_factory.mktemp("snapschema") / "tbl")
    df0 = spark.createDataFrame(
        [(f"d{i}", i) for i in range(20)], "doc_id string, n int")
    write_encoded(df0, path, n_buckets=2, run_id="e0", epoch=0)
    df1 = spark.createDataFrame(
        [(f"x{i}", 100 + i, f"v{i}") for i in range(10)],
        "doc_id string, n int, extra string")
    write_encoded(df1, path, n_buckets=2, run_id="e1", epoch=1,
                  schema_evolution=True)
    return path


def test_asof_hides_later_column(spark, evolved):
    snap = read_encoded(spark, evolved, as_of_epoch=0)
    assert snap.columns == ["doc_id", "n"]
    assert snap.count() == 20


def test_asof_direct_hides_later_column(spark, evolved):
    snap = read_encoded_direct(spark, evolved, as_of_epoch=0)
    assert snap.columns == ["doc_id", "n"]
    assert snap.count() == 20


def test_asof_at_evolution_epoch_sees_column(spark, evolved):
    cur = read_encoded(spark, evolved, as_of_epoch=1)
    assert cur.columns == ["doc_id", "n", "extra"]
    rows = {r.doc_id: r.extra for r in cur.collect()}
    assert rows["x3"] == "v3"
    assert rows["d3"] is None  # epoch-0 rows null-filled as before


def test_asof_projection_of_missing_column_raises(spark, evolved):
    with pytest.raises(ValueError, match="does not exist as of epoch"):
        read_encoded(spark, evolved, as_of_epoch=0, columns=["extra"])
    with pytest.raises(ValueError, match="does not exist as of epoch"):
        read_encoded(spark, evolved, as_of_epoch=0,
                     eq_filter=("extra", "v3"))
    with pytest.raises(ValueError, match="does not exist as of epoch"):
        read_encoded_direct(spark, evolved, as_of_epoch=0,
                            columns=["extra"])


def test_current_read_unchanged(spark, evolved):
    cur = read_encoded(spark, evolved)
    assert cur.columns == ["doc_id", "n", "extra"]
    assert cur.count() == 30


def test_datasource_as_of_projects_snapshot_schema(spark, evolved):
    """The DataSource declares the planner's snapshot schema: an
    as_of_epoch read before the evolution epoch has read_encoded's
    columns and rows, not the current schema null-filled."""
    from tokcodec.datasource import TokcodecDataSource

    spark.dataSource.register(TokcodecDataSource)
    ds = (spark.read.format("tokcodec").option("as_of_epoch", 0)
          .load(evolved))
    ref = read_encoded(spark, evolved, as_of_epoch=0)
    assert ds.columns == ref.columns == ["doc_id", "n"]
    assert sorted(ds.collect()) == sorted(ref.collect())
    assert len(ref.collect()) == 20
    cur = spark.read.format("tokcodec").load(evolved)
    assert cur.columns == ["doc_id", "n", "extra"]
