"""changes_encoded — net changelog over the epoch lineage + delete
log. The invariant every test leans on: applying the stream to the
``since`` snapshot reproduces the ``as_of`` snapshot exactly."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from tokcodec.cdc import changes_encoded
from tokcodec.io_tables import delete_encoded, read_encoded, write_encoded


def _rows(df, cols):
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("cdc") / "t")

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"))

    write_encoded(batch(0, 100), base, n_buckets=2, run_id="e0",
                  epoch=0)
    write_encoded(batch(100, 200), base, n_buckets=2, run_id="e1",
                  epoch=1, resume=True)
    delete_encoded(spark, base, "k", [5, 150])          # epoch 2
    write_encoded(batch(200, 250), base, n_buckets=2, run_id="e3",
                  epoch=3, resume=True)
    delete_encoded(spark, base, "k", [5, 10, 210])      # epoch 4
    yield spark, base
    shutil.rmtree(base, ignore_errors=True)


def _replay(spark, base, since):
    """since snapshot + change stream -> reconstructed state."""
    snap = read_encoded(spark, base, as_of_epoch=since)
    ch = changes_encoded(spark, base, since_epoch=since)
    del_keys = (ch.filter(F.col("_change_type") == "delete")
                .select("k"))
    ins = ch.filter(F.col("_change_type") == "insert").drop(
        "_change_type")
    return (snap.join(del_keys, ["k"], "left_anti")
            .unionByName(ins))


@pytest.mark.parametrize("since", [0, 1, 2, 3])
def test_replay_reproduces_current_snapshot(table, since):
    spark, base = table
    want = read_encoded(spark, base)
    got = _replay(spark, base, since)
    assert _rows(got, ["k", "v"]) == _rows(want, ["k", "v"])


def test_insert_then_delete_in_window_nets_to_nothing(table):
    spark, base = table
    # k=210 appended at epoch 3 and deleted at epoch 4: a window
    # covering both emits NEITHER row
    ch = changes_encoded(spark, base, since_epoch=1)
    k210 = ch.filter(F.col("k") == 210)
    assert k210.count() == 0


def test_already_deleted_key_not_redeleted(table):
    spark, base = table
    # k=5 was deleted at epoch 2; the epoch-4 delete lists it again —
    # a window starting after epoch 2 must not emit a second delete
    ch = changes_encoded(spark, base, since_epoch=2)
    d5 = ch.filter((F.col("_change_type") == "delete")
                   & (F.col("k") == 5))
    assert d5.count() == 0
    # but a window that SAW k=5 alive gets exactly one delete row
    ch = changes_encoded(spark, base, since_epoch=1)
    d5 = ch.filter((F.col("_change_type") == "delete")
                   & (F.col("k") == 5))
    assert d5.count() == 1


def test_delete_rows_carry_full_content(table):
    spark, base = table
    ch = changes_encoded(spark, base, since_epoch=3)
    dels = ch.filter(F.col("_change_type") == "delete")
    got = _rows(dels, ["k", "v"])
    # visible at epoch 3: k=10 (v=20) and k=210 (v=420); k=5 was
    # already gone
    assert got == [("10", "20"), ("210", "420")]


def test_bootstrap_without_since(table):
    spark, base = table
    ch = changes_encoded(spark, base)
    assert ch.filter(F.col("_change_type") == "delete").count() == 0
    want = read_encoded(spark, base)
    assert _rows(ch, ["k", "v"]) == _rows(want, ["k", "v"])


def test_columns_projection_drops_internal_key(table):
    spark, base = table
    ch = changes_encoded(spark, base, since_epoch=1, columns=["v"])
    assert set(ch.columns) == {"_change_type", "v"}
    # the deleted rows still appear, projected
    dels = ch.filter(F.col("_change_type") == "delete")
    assert dels.count() == 3  # k=5, k=10, k=210 deletions vs epoch 1


def test_as_of_bounds_the_window(table):
    spark, base = table
    # (1, 3]: the epoch-2 delete and the epoch-3 append, NOT epoch 4
    ch = changes_encoded(spark, base, since_epoch=1, as_of_epoch=3)
    got_del = _rows(ch.filter(F.col("_change_type") == "delete"),
                    ["k"])
    assert got_del == [("150",), ("5",)]
    snap1 = read_encoded(spark, base, as_of_epoch=1)
    snap3 = read_encoded(spark, base, as_of_epoch=3)
    dkeys = (ch.filter(F.col("_change_type") == "delete")
             .select("k"))
    ins = ch.filter(F.col("_change_type") == "insert") \
        .drop("_change_type")
    rebuilt = snap1.join(dkeys, ["k"], "left_anti").unionByName(ins)
    assert _rows(rebuilt, ["k", "v"]) == _rows(snap3, ["k", "v"])


def test_changelog_across_compaction_reemits(spark, tmp_path):
    """Documented caveat: a rewrite inside the window re-emits the
    rewritten rows as inserts (incremental-read semantics) — pinned
    so the behavior is intentional, not accidental."""
    from tokcodec.io_tables import compact_encoded

    base = str(tmp_path / "cmp")
    write_encoded(spark.range(30).select(F.col("id").alias("k"),
                                         F.col("id").alias("v")),
                  base, n_buckets=2, run_id="a", epoch=0)
    delete_encoded(spark, base, "k", [7])          # epoch 1
    compact_encoded(spark, base)                   # rewrites at a new epoch
    ch = changes_encoded(spark, base, since_epoch=0)
    ins = ch.filter(F.col("_change_type") == "insert")
    # the compacted table's full 29 rows re-emit; k=7 stays gone
    assert ins.count() == 29
    assert ch.filter(F.col("k") == 7).count() == 0


def test_delete_on_evolved_key_with_requested_postdating_column(
        spark, tmp_path):
    """Review fix: a REQUESTED column that postdates the snapshot must
    not swallow the window's delete rows (the old except caught the
    wrong ValueError); delete rows carry NULL for such columns."""
    base = str(tmp_path / "evk")
    write_encoded(spark.range(20).select(F.col("id").alias("k"),
                                         F.col("id").alias("v")),
                  base, n_buckets=2, run_id="a", epoch=0)
    # epoch 1 adds column w via evolution
    e1 = spark.range(20, 30).select(F.col("id").alias("k"),
                                    F.col("id").alias("v"),
                                    (F.col("id") * 10).alias("w"))
    write_encoded(e1, base, n_buckets=2, run_id="b", epoch=1,
                  resume=True, schema_evolution=True)
    delete_encoded(spark, base, "k", [3, 25])  # epoch 2
    ch = changes_encoded(spark, base, since_epoch=0,
                         columns=["k", "v", "w"])
    dels = ch.filter(F.col("_change_type") == "delete").collect()
    # k=3 was visible at epoch 0 -> exactly one delete row, with w NULL
    assert [(r["k"], r["v"], r["w"]) for r in dels] == [(3, 3, None)]
    # replay invariant still holds with the projection
    snap = read_encoded(spark, base, as_of_epoch=0).select("k", "v")
    dk = ch.filter(F.col("_change_type") == "delete").select("k")
    ins = (ch.filter(F.col("_change_type") == "insert")
           .select("k", "v"))
    rebuilt = snap.join(dk, ["k"], "left_anti").unionByName(ins)
    now = read_encoded(spark, base).select("k", "v")
    assert _rows(rebuilt, ["k", "v"]) == _rows(now, ["k", "v"])


@pytest.mark.both_placements
def test_delete_rows_survive_a_projection_the_snapshot_predates(
        spark, tmp_path):
    # every requested column postdates the snapshot: the delete rows'
    # read projects all of its columns away, and still keeps one row
    # per deleted key (the key itself is decoded for the match only)
    base = str(tmp_path / "evw")
    write_encoded(spark.range(20).select(F.col("id").alias("k")),
                  base, n_buckets=2, run_id="a", epoch=0)
    e1 = spark.range(20, 30).select(F.col("id").alias("k"),
                                    (F.col("id") * 10).alias("w"))
    write_encoded(e1, base, n_buckets=2, run_id="b", epoch=1,
                  resume=True, schema_evolution=True)
    delete_encoded(spark, base, "k", [3, 7, 25])  # epoch 2
    ch = changes_encoded(spark, base, since_epoch=0, columns=["w"])
    got = sorted((r["_change_type"], r["w"]) for r in ch.collect())
    assert got == sorted([("delete", None)] * 2 + [
        ("insert", 10 * i) for i in range(20, 30) if i != 25])


def test_delete_key_postdating_snapshot_skipped_columns_none(
        spark, tmp_path):
    """Review fix: with columns=None, a delete keyed on a column the
    snapshot predates is skipped (no AnalysisException from the
    semi-join)."""
    base = str(tmp_path / "postk")
    write_encoded(spark.range(10).select(F.col("id").alias("k"),
                                         F.col("id").alias("v")),
                  base, n_buckets=1, run_id="a", epoch=0)
    e1 = spark.range(10, 15).select(
        F.col("id").alias("k"), F.col("id").alias("v"),
        F.concat(F.lit("t"), F.col("id")).alias("tag"))
    write_encoded(e1, base, n_buckets=1, run_id="b", epoch=1,
                  resume=True, schema_evolution=True)
    delete_encoded(spark, base, "tag", ["t12"])  # epoch 2
    ch = changes_encoded(spark, base, since_epoch=0)
    # no row visible at epoch 0 has a tag: zero delete rows
    assert ch.filter(F.col("_change_type") == "delete").count() == 0
    # and the insert side reflects the delete (t12 suppressed)
    assert ch.filter(F.col("k") == 12).count() == 0
