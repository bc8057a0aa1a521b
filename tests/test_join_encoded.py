"""Co-bucketed shuffle-free joins (tokcodec.joins.join_encoded):
result parity with Spark's own join over the decoded sides, all join
shapes, co-partitioning validation, plan shape (no table shuffle)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from tokcodec.io_tables import delete_encoded, read_encoded, write_encoded
from tokcodec.joins import join_encoded


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("jointbl")
    lp, rp = str(base / "left"), str(base / "right")
    left = spark.range(500).select(
        F.concat(F.lit("doc"), F.col("id")).alias("doc_id"),
        (F.col("id") % 7).cast("int").alias("grp"),
        F.array(F.col("id").cast("int"),
                (F.col("id") * 2).cast("int")).alias("tokens"),
    )
    # right covers doc250..doc749: half overlap
    right = spark.range(250, 750).select(
        F.concat(F.lit("doc"), F.col("id")).alias("doc_id"),
        (F.col("id") % 100).cast("double").alias("score"),
        F.concat(F.lit("s"), (F.col("id") % 3)).alias("tag"),
    )
    write_encoded(left, lp, n_buckets=16, salt_cols=("doc_id",))
    write_encoded(right, rp, n_buckets=16, salt_cols=("doc_id",))
    yield spark, lp, rp, left, right
    shutil.rmtree(base, ignore_errors=True)


def _rows(df):
    return sorted(tuple(str(x) for x in r)
                  for r in df.select(*sorted(df.columns)).collect())


def test_inner_matches_spark_join(tables):
    spark, lp, rp, left, right = tables
    got = join_encoded(spark, lp, rp, on="doc_id")
    want = left.join(right, "doc_id", "inner")
    assert _rows(got) == _rows(want)
    assert got.count() == 250


def test_left_outer_nulls(tables):
    spark, lp, rp, left, right = tables
    got = join_encoded(spark, lp, rp, on="doc_id", how="left")
    want = left.join(right, "doc_id", "left")
    assert _rows(got) == _rows(want)
    assert got.filter(F.col("score").isNull()).count() == 250


def test_semi_and_anti(tables):
    spark, lp, rp, left, right = tables
    semi = join_encoded(spark, lp, rp, on="doc_id", how="left_semi")
    anti = join_encoded(spark, lp, rp, on="doc_id", how="left_anti")
    assert _rows(semi) == _rows(left.join(right, "doc_id", "left_semi"))
    assert _rows(anti) == _rows(left.join(right, "doc_id", "left_anti"))
    assert set(semi.columns) == set(left.columns)


def test_projection(tables):
    spark, lp, rp, left, right = tables
    got = join_encoded(spark, lp, rp, on="doc_id",
                       left_columns=["doc_id", "grp"],
                       right_columns=["doc_id", "score"])
    assert sorted(got.columns) == ["doc_id", "grp", "score"]
    want = left.select("doc_id", "grp").join(
        right.select("doc_id", "score"), "doc_id")
    assert _rows(got) == _rows(want)


def test_no_table_shuffle_in_plan(tables):
    spark, lp, rp, *_ = tables
    got = join_encoded(spark, lp, rp, on="doc_id")
    plan = got._jdf.queryExecution().executedPlan().toString()
    # the local per-bucket Arrow join replaces Spark's join operators,
    # and spark.range feeds the bucket indexes: no exchange at all
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Exchange" not in plan


def test_multi_key_join(spark, tmp_path):
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    left = spark.range(300).select(
        F.concat(F.lit("s"), (F.col("id") % 4)).alias("source"),
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.col("id").cast("int").alias("v"))
    right = spark.range(150, 450).select(
        F.concat(F.lit("s"), (F.col("id") % 4)).alias("source"),
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") * 10).cast("int").alias("w"))
    write_encoded(left, lp, n_buckets=8)   # default salt source+doc_id
    write_encoded(right, rp, n_buckets=8)
    got = join_encoded(spark, lp, rp, on=["source", "doc_id"])
    want = left.join(right, ["source", "doc_id"])
    assert _rows(got) == _rows(want)
    assert got.count() == 150


def test_validation_errors(spark, tmp_path, tables):
    _, lp, rp, *_ = tables
    # join keys must cover the salt: salt is (source, doc_id) on both,
    # joining on doc_id alone cannot guarantee co-location
    lg, rg = str(tmp_path / "lg"), str(tmp_path / "rg")
    df = spark.range(20).select(
        F.concat(F.lit("s"), (F.col("id") % 3)).alias("source"),
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.col("id").cast("int").alias("v"))
    write_encoded(df, lg, n_buckets=8)
    write_encoded(df.withColumnRenamed("v", "w"), rg, n_buckets=8)
    with pytest.raises(ValueError, match="cover the bucketing salt"):
        join_encoded(spark, lg, rg, on="doc_id")
    # n_buckets mismatch
    other = str(tmp_path / "nb")
    df = spark.range(10).select(
        F.concat(F.lit("doc"), F.col("id")).alias("doc_id"),
        F.col("id").cast("double").alias("score2"))
    write_encoded(df, other, n_buckets=4, salt_cols=("doc_id",))
    with pytest.raises(ValueError, match="n_buckets"):
        join_encoded(spark, lp, other, on="doc_id")
    # salt mismatch
    other2 = str(tmp_path / "salt")
    write_encoded(df.withColumn("source", F.lit("x")), other2,
                  n_buckets=16)  # default salt = (source, doc_id)
    with pytest.raises(ValueError, match="not co-bucketed: salt"):
        join_encoded(spark, lp, other2, on="doc_id")
    # collision outside keys
    other3 = str(tmp_path / "coll")
    write_encoded(
        spark.range(10).select(
            F.concat(F.lit("doc"), F.col("id")).alias("doc_id"),
            (F.col("id") % 7).cast("int").alias("grp")),
        other3, n_buckets=16, salt_cols=("doc_id",))
    with pytest.raises(ValueError, match="collision"):
        join_encoded(spark, lp, other3, on="doc_id")


def test_left_deletes_apply(spark, tmp_path):
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    left = spark.range(100).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.col("id").cast("int").alias("v"))
    right = spark.range(100).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") * 2).cast("int").alias("w"))
    write_encoded(left, lp, n_buckets=8, salt_cols=("doc_id",))
    write_encoded(right, rp, n_buckets=8, salt_cols=("doc_id",))
    delete_encoded(spark, lp, "doc_id", [f"d{i}" for i in range(10)])
    got = join_encoded(spark, lp, rp, on="doc_id")
    assert got.count() == 90
    assert got.filter(F.col("doc_id").isin(
        [f"d{i}" for i in range(10)])).count() == 0
    # right-side deletes apply before the join, under every how: the
    # deleted right row leaves its left row unmatched
    delete_encoded(spark, rp, "doc_id", ["d50"])
    assert join_encoded(spark, lp, rp, on="doc_id").count() == 89
    outer = join_encoded(spark, lp, rp, on="doc_id", how="left")
    assert sorted((r.doc_id, r.v, r.w) for r in outer.collect()) == sorted(
        (f"d{i}", i, None if i == 50 else 2 * i) for i in range(10, 100))


def _deleted_sides(spark, tmp_path):
    """Two co-bucketed tables sharing a non-join column ``src``, with
    pending deletes on the join key and on ``src`` on both sides."""
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    left = spark.range(120).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.col("id").cast("int").alias("v"),
        F.concat(F.lit("s"), F.col("id") % 5).alias("src"))
    right = spark.range(40, 160).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") * 2).cast("int").alias("w"),
        F.concat(F.lit("s"), F.col("id") % 7).alias("src"))
    write_encoded(left, lp, n_buckets=8, salt_cols=("doc_id",))
    write_encoded(right, rp, n_buckets=8, salt_cols=("doc_id",))
    delete_encoded(spark, lp, "doc_id", ["d3", "d41", "d77"])
    delete_encoded(spark, rp, "doc_id", ["d42", "d43", "d90", "d150"])
    delete_encoded(spark, lp, "src", ["s4"])
    delete_encoded(spark, rp, "src", ["s6"])
    return lp, rp


@pytest.mark.both_placements
@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
def test_deletes_apply_before_the_join(spark, tmp_path, how):
    # both sides' deletes, on the join key and on a non-join column,
    # are removed in each side's slice scan: the result is Spark's join
    # of the two read_encoded sides, and the delete key ``src``, a
    # column of both sides outside both projections, no longer collides
    lp, rp = _deleted_sides(spark, tmp_path)
    got = join_encoded(spark, lp, rp, on="doc_id", how=how,
                       left_columns=["doc_id", "v"],
                       right_columns=["doc_id", "w"])
    want = read_encoded(spark, lp, columns=["doc_id", "v"]).join(
        read_encoded(spark, rp, columns=["doc_id", "w"]), "doc_id", how)
    assert sorted(got.columns) == sorted(want.columns)
    assert _rows(got) == _rows(want)
    assert got.count() > 0


def test_salt_recorded_and_append_validated(spark, tmp_path):
    import json
    p = str(tmp_path / "t")
    df = spark.range(20).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.col("id").cast("int").alias("v"))
    write_encoded(df, p, n_buckets=4, salt_cols=("doc_id",))
    man = json.loads(open(f"{p}/_manifest.json").read())
    assert man["salt_cols"] == ["doc_id"]
    # append with a different salt refused
    with pytest.raises(ValueError, match="salt_cols mismatch"):
        write_encoded(df, p, n_buckets=4, salt_cols=("v",),
                      run_id="r2x")
    # append with the default inherits the table's salt
    write_encoded(df, p, n_buckets=4, run_id="r3x", epoch=1)
    man = json.loads(open(f"{p}/_manifest.json").read())
    assert man["salt_cols"] == ["doc_id"]
    assert read_encoded(spark, p).count() == 40


def test_join_as_of_snapshot(spark, tmp_path):
    """Per-side time travel: joining 'left as of epoch 0' excludes
    rows appended at epoch 1, under the snapshot schema; bucketing is
    epoch-immutable so co-partitioning holds at any snapshot pair."""
    lp, rp = str(tmp_path / "l"), str(tmp_path / "r")
    l0 = spark.range(100).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.col("id").alias("v0"))
    l1 = spark.range(100, 200).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.col("id").alias("v0"))
    right = spark.range(200).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") * 10).alias("w"))
    write_encoded(l0, lp, n_buckets=4, run_id="e0", epoch=0,
                  salt_cols=("doc_id",))
    write_encoded(l1, lp, n_buckets=4, run_id="e1", epoch=1,
                  resume=True)
    write_encoded(right, rp, n_buckets=4, run_id="r0",
                  salt_cols=("doc_id",))
    full = join_encoded(spark, lp, rp, on="doc_id")
    assert full.count() == 200
    snap = join_encoded(spark, lp, rp, on="doc_id",
                        left_as_of_epoch=0)
    assert snap.count() == 100
    assert snap.agg(F.max("v0")).collect()[0][0] == 99


def test_sample_encoded_chunks(spark, tmp_path):
    """Chunk-granular deterministic sampling: same seed -> same rows,
    fraction 1 -> whole table, sampled rows are a subset."""
    from tokcodec.io_tables import sample_encoded

    p = str(tmp_path / "s")
    df = spark.range(2000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.col("id").alias("v"))
    write_encoded(df.repartition(1), p, n_buckets=4, chunk_max_rows=50)
    all_rows = {r.doc_id for r in sample_encoded(spark, p, 1.0).collect()}
    assert len(all_rows) == 2000
    s1 = {r.doc_id for r in sample_encoded(spark, p, 0.3, seed=7).collect()}
    s2 = {r.doc_id for r in sample_encoded(spark, p, 0.3, seed=7).collect()}
    assert s1 == s2 and s1 < all_rows
    # ~40 chunks of <=50 rows: expect a band around 30% (generous —
    # the unit is a chunk, so counts move in chunk-size steps)
    assert 0.05 * 2000 < len(s1) < 0.7 * 2000
    s3 = {r.doc_id for r in sample_encoded(spark, p, 0.3, seed=8).collect()}
    assert s3 != s1  # a different seed picks a different chunk set
    # composes with projection + filters
    proj = sample_encoded(spark, p, 0.3, seed=7, columns=["doc_id"])
    assert proj.columns == ["doc_id"]
    assert {r.doc_id for r in proj.collect()} == s1
    with pytest.raises(ValueError, match="fraction"):
        sample_encoded(spark, p, 1.5)
