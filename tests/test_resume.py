"""Resumability: kill after k buckets, re-run, assert no re-encode and
identical final result (BASELINE.md resumability row)."""

import pytest
from pyspark.sql import functions as F

from conftest import local_frame
from tokcodec import read_encoded, verify_roundtrip, write_encoded
from tokcodec.synth import synth_df

pytestmark = pytest.mark.both_placements


@pytest.fixture(scope="module")
def seq_df(spark):
    return local_frame(synth_df(spark, 5_000, seed=42, partitions=8))


def test_write_read_roundtrip(spark, seq_df, tmp_path):
    path = str(tmp_path / "enc")
    summary = write_encoded(seq_df, path, n_buckets=8, run_id="r1")
    assert summary["buckets"] == 8
    assert summary["rows"] == 5_000
    dec = read_encoded(spark, path)
    assert verify_roundtrip(seq_df, dec)["ok"]


def test_projection_via_read(spark, seq_df, tmp_path):
    path = str(tmp_path / "enc")
    write_encoded(seq_df, path, n_buckets=4, run_id="r1")
    dec = read_encoded(spark, path, columns=["source", "n_tok"])
    assert dec.columns == ["source", "n_tok"]
    assert dec.count() == 5_000


def test_resume_after_partial_failure(spark, seq_df, tmp_path):
    path = str(tmp_path / "enc")
    # simulate a crash after 3 of 8 buckets committed
    s1 = write_encoded(seq_df, path, n_buckets=8, run_id="r1",
                       fail_after_buckets=3)
    assert s1["buckets"] == 3
    # resume: must skip the 3 committed buckets and finish the rest
    s2 = write_encoded(seq_df, path, n_buckets=8, run_id="r2", resume=True)
    assert s2["skipped_buckets"] == 3
    assert s2["buckets"] == 8
    dec = read_encoded(spark, path)
    res = verify_roundtrip(seq_df, dec)
    assert res["ok"] and res["rows"] == 5_000
    # no duplicate rows from overlapping runs
    assert dec.groupBy("doc_id").count().filter(F.col("count") > 1).count() == 0


def test_resume_is_idempotent_when_complete(spark, seq_df, tmp_path):
    path = str(tmp_path / "enc")
    write_encoded(seq_df, path, n_buckets=4, run_id="r1")
    s2 = write_encoded(seq_df, path, n_buckets=4, run_id="r2", resume=True)
    assert s2["skipped_buckets"] == 4
    dec = read_encoded(spark, path)
    assert verify_roundtrip(seq_df, dec)["ok"]


def test_orphan_blocks_ignored(spark, seq_df, tmp_path):
    """Blocks written without a lineage commit (crash between the two
    writes) must be invisible to decode and re-encoded on resume."""
    import os
    import shutil

    path = str(tmp_path / "enc")
    write_encoded(seq_df, path, n_buckets=4, run_id="r1")
    # fake a crashed run: duplicate blocks under a new run_id, no lineage
    blocks_p = os.path.join(path, "blocks")
    spark.read.option("recursiveFileLookup", "true").parquet(
        blocks_p
    ).withColumn(
        "run_id", F.lit("crashed")
    ).write.mode("append").parquet(blocks_p)
    dec = read_encoded(spark, path)
    res = verify_roundtrip(seq_df, dec)
    assert res["ok"] and res["rows"] == 5_000


def test_run_id_charset_validated(spark, seq_df, tmp_path):
    """run_id names files and flows into glob-aware read APIs
    (spark.read.json over manifest paths): glob metacharacters must be
    rejected at write time (ADVICE r4)."""
    import pytest

    for bad in ("r[1]", "r{1}", "a*b", "q?x", "a/b", "a b"):
        with pytest.raises(ValueError, match="run_id"):
            write_encoded(seq_df.limit(1), str(tmp_path / "t"),
                          n_buckets=1, run_id=bad)
