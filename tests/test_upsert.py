"""Upsert (MERGE-by-key): bucket-granular copy-on-write. Iceberg's
MERGE INTO rewritten at the bucket level — touched buckets are
decoded, merged and re-committed atomically (tombstones + commits in
one lineage append); untouched buckets are never read or rewritten.
The reference cannot update a written Parquet file at all; this is
the table-format completion of its write path."""

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from conftest import local_frame
from tokcodec.io_tables import (
    compact_encoded,
    count_encoded,
    delete_encoded,
    read_encoded,
    read_encoded_direct,
    upsert_encoded,
    write_encoded,
)

pytestmark = pytest.mark.both_placements

SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("n_tok", T.IntegerType(), False),
    T.StructField("source", T.StringType(), False),
])


def _mk(spark, ids, tok_base=1, source=None):
    return local_frame(spark.createDataFrame(
        [Row(doc_id=f"d{i}", tokens=[tok_base * i, tok_base * i + 1],
             n_tok=2, source=source or f"s{i % 3}")
         for i in ids],
        SCHEMA,
    ))


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_encoded(_mk(spark, range(30)), path, n_buckets=6, run_id="base")
    return path


def _by_id(df):
    return {r.doc_id: (list(r.tokens), r.source)
            for r in df.collect()}


def test_upsert_updates_and_inserts(spark, table):
    up = _mk(spark, [3, 7, 30, 31], tok_base=100)
    res = upsert_encoded(spark, table, up, "doc_id", run_id="up1")
    assert res["run_id"] == "up1" and res["buckets_rewritten"] >= 1
    got = _by_id(read_encoded(spark, table))
    assert len(got) == 32
    assert got["d3"][0] == [300, 301]       # replaced
    assert got["d7"][0] == [700, 701]       # replaced
    assert got["d30"][0] == [3000, 3001]    # inserted
    assert got["d5"][0] == [5, 6]           # untouched
    assert count_encoded(spark, table) == 32
    # direct reader agrees
    assert len(_by_id(read_encoded_direct(spark, table))) == 32


def test_upsert_only_touched_buckets_rewritten(spark, table):
    from tokcodec.io_tables import _load_table

    _, lin = _load_table(spark, table)
    before = {(int(r.bucket), r.run_id) for r in lin.collect()}
    upsert_encoded(spark, table, _mk(spark, [0], tok_base=9),
                   "doc_id", run_id="up1")
    _, lin = _load_table(spark, table)
    after = {(int(r.bucket), r.run_id) for r in lin.collect()}
    # some buckets still served by the base run => not a full rewrite
    assert any(rid == "base" for _b, rid in after)
    assert any(rid == "up1" for _b, rid in after)
    changed = {b for b, rid in after if rid == "up1"}
    # every unchanged bucket kept its original run verbatim
    assert {(b, r) for b, r in before if b not in changed} <= after


def test_upsert_moved_salt_still_replaces(spark, table):
    # same doc_id, DIFFERENT source => hashes to a (likely) different
    # bucket; the old row must still be found by stored location
    up = _mk(spark, [4], tok_base=50, source="moved")
    upsert_encoded(spark, table, up, "doc_id")
    rows = [r for r in read_encoded(spark, table).collect()
            if r.doc_id == "d4"]
    assert len(rows) == 1
    assert rows[0].source == "moved" and list(rows[0].tokens) == [200, 201]
    assert count_encoded(spark, table) == 30


def test_upsert_after_delete_keeps_removal_semantics(spark, table):
    delete_encoded(spark, table, "doc_id", ["d1", "d2"])
    # d1 is upserted while on the removal list: stays suppressed
    # (global removal-list semantics) until compaction retires it
    upsert_encoded(spark, table, _mk(spark, [1], tok_base=9), "doc_id")
    ids = {r.doc_id for r in read_encoded(spark, table).collect()}
    assert "d1" not in ids and "d2" not in ids
    compact_encoded(spark, table)
    ids = {r.doc_id for r in read_encoded(spark, table).collect()}
    assert "d1" not in ids  # materialized removal


def test_upsert_time_travel_collapses_touched_history(spark, table):
    upsert_encoded(spark, table, _mk(spark, [5, 60], tok_base=77),
                   "doc_id")
    cur = _by_id(read_encoded(spark, table))
    assert cur["d5"][0] == [385, 386] and "d60" in cur
    # as-of the pre-upsert epoch: the touched buckets' history is
    # collapsed by the tombstones (same policy as compaction /
    # Iceberg snapshot expiry), untouched buckets still read, and the
    # inserted row is absent
    old = {r.doc_id for r in
           read_encoded(spark, table, as_of_epoch=0).collect()}
    assert "d60" not in old
    assert old < {f"d{i}" for i in range(30)}


def test_upsert_validation(spark, table):
    with pytest.raises(ValueError, match="not in table"):
        upsert_encoded(spark, table, _mk(spark, [1]), "nope")
    with pytest.raises(ValueError, match="atomic"):
        upsert_encoded(spark, table, _mk(spark, [1]), "tokens")
    bad = _mk(spark, [1]).drop("source")
    with pytest.raises(ValueError, match="columns"):
        upsert_encoded(spark, table, bad, "doc_id")


def test_upsert_idempotent_rerun(spark, table):
    up = _mk(spark, [2, 40], tok_base=11)
    upsert_encoded(spark, table, up, "doc_id", run_id="a1")
    upsert_encoded(spark, table, up, "doc_id", run_id="a2")
    got = _by_id(read_encoded(spark, table))
    assert len(got) == 31
    assert got["d2"][0] == [22, 23]
    assert got["d40"][0] == [440, 441]
