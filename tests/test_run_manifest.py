"""Layout-v2 guarantees: per-run file manifests make commit metadata
O(run) and reads listing-free (round-2 verdict item #2), and appends
inherit/validate the table manifest's column annotations (round-2
ADVICE, medium)."""

import json
import os

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from conftest import local_frame
from tokcodec.io_tables import (
    _bucket_ranges,
    read_encoded,
    read_encoded_direct,
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
        [Row(doc_id=f"d{i}", tokens=[i, i + 1], n_tok=2, source=f"s{i % 3}")
         for i in range(lo, hi)],
        SCHEMA,
    ))


def test_bucket_ranges_compact_and_exact():
    assert _bucket_ranges([]) == []
    assert _bucket_ranges([5]) == [[5, 5]]
    assert _bucket_ranges([0, 1, 2, 7, 9, 10]) == [[0, 2], [7, 7], [9, 10]]


def _disk_files(path):
    out = set()
    blocks = os.path.join(path, "blocks")
    for root, _dirs, files in os.walk(blocks):
        for f in files:
            out.add(os.path.relpath(os.path.join(root, f), blocks))
    return out


def test_run_manifest_lists_exact_files(spark, tmp_path):
    path = str(tmp_path / "t")
    write_encoded(_mk(spark, 0, 100), path, n_buckets=3, run_id="r1")
    m = json.loads(open(os.path.join(path, "_runs", "r1.json")).read())
    assert m["run_id"] == "r1" and m["files"]
    listed = {f["path"] for f in m["files"]}
    assert listed == _disk_files(path)
    for f in m["files"]:
        full = os.path.join(path, "blocks", f["path"])
        assert os.path.getsize(full) == f["bytes"]
        assert f["bucket_ranges"] and all(
            lo <= hi for lo, hi in f["bucket_ranges"])


def test_alien_files_are_invisible(spark, tmp_path):
    """Readers plan file lists from manifests, never by listing: a
    corrupt stray file in the blocks tree (failed task attempt, manual
    copy, concurrent writer) must not break or pollute reads."""
    path = str(tmp_path / "t")
    df = _mk(spark, 0, 200)
    write_encoded(df, path, n_buckets=4, run_id="r1")
    with open(os.path.join(path, "blocks", "col-tokens",
                           "garbage.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    os.makedirs(os.path.join(path, "blocks", "col-intruder"))
    with open(os.path.join(path, "blocks", "col-intruder",
                           "run-zzz-p00000-a0.parquet"), "wb") as f:
        f.write(b"junk")
    for reader in (read_encoded, read_encoded_direct):
        got = reader(spark, path)
        assert got.count() == 200
        assert got.agg(F.sum("n_tok")).collect()[0][0] == 400


def test_commit_reads_only_its_own_run(spark, tmp_path):
    """Appending epoch 2 must not open ANY file of earlier runs: every
    pre-existing block file is overwritten with junk, and the append
    still commits (metrics are read back by exact path from the new
    run's manifest)."""
    path = str(tmp_path / "t")
    write_encoded(_mk(spark, 0, 60), path, n_buckets=2, run_id="r1", epoch=0)
    for rel in _disk_files(path):
        with open(os.path.join(path, "blocks", rel), "wb") as f:
            f.write(b"trashed")
    res = write_encoded(_mk(spark, 60, 120), path, n_buckets=2,
                        run_id="r2", epoch=1)
    assert res["buckets"] == 4  # 2 buckets per epoch, all committed
    lin = spark.read.parquet(os.path.join(path, "lineage"))
    assert lin.filter(F.col("run_id") == "r2").count() == 2


def test_append_inherits_uuid_columns(spark, tmp_path):
    """Round-2 ADVICE repro: epoch-0 write with uuid_columns=['doc_id'],
    epoch-1 append WITHOUT declaring them. The append must inherit the
    FIXED(16) representation — before the fix, old rows decoded as raw
    16-byte binary reinterpreted as strings with no error."""
    import uuid as _uuid

    def mk(lo, hi):
        return local_frame(spark.createDataFrame(
            [Row(doc_id=str(_uuid.UUID(int=i)), tokens=[i], n_tok=1,
                 source="s") for i in range(lo, hi)],
            SCHEMA,
        ))

    path = str(tmp_path / "t")
    write_encoded(mk(0, 30), path, n_buckets=2, run_id="r1", epoch=0,
                  uuid_columns=["doc_id"])
    write_encoded(mk(30, 60), path, n_buckets=2, run_id="r2", epoch=1)
    got = read_encoded(spark, path).select("doc_id").collect()
    ids = sorted(r.doc_id for r in got)
    assert ids == sorted(str(_uuid.UUID(int=i)) for i in range(60))

    with pytest.raises(ValueError, match="uuid_columns mismatch"):
        write_encoded(mk(60, 70), path, n_buckets=2, run_id="r3", epoch=2,
                      uuid_columns=["source"])


def test_append_rejects_incompatible_shape(spark, tmp_path):
    path = str(tmp_path / "t")
    write_encoded(_mk(spark, 0, 20), path, n_buckets=2, run_id="r1")
    with pytest.raises(ValueError, match="n_buckets"):
        write_encoded(_mk(spark, 20, 40), path, n_buckets=3, run_id="r2",
                      epoch=1)
    other = spark.createDataFrame([Row(a=1)], "a int")
    with pytest.raises(ValueError, match="schema mismatch"):
        write_encoded(other, path, n_buckets=2, run_id="r3", epoch=1)


def test_flush_splits_files_and_reads_back(spark, tmp_path, monkeypatch):
    """The writer's byte-bounded flush (task memory cap when one task
    owns many buckets) produces multiple part files per (task, column);
    manifests record each part's exact bucket ranges and both read
    paths reassemble correctly."""
    import tokcodec.io_tables as iot

    monkeypatch.setattr(iot, "FLUSH_BYTES", 1)  # flush after every batch
    path = str(tmp_path / "t")
    df = _mk(spark, 0, 2000)
    write_encoded(df, path, n_buckets=2, run_id="r1")
    m = json.loads(open(os.path.join(path, "_runs", "r1.json")).read())
    tok_files = [f for f in m["files"] if f["column"] == "tokens"]
    assert len(tok_files) >= 2  # flush actually split into parts
    for reader in (read_encoded, read_encoded_direct):
        got = reader(spark, path)
        assert got.count() == 2000
        assert got.agg(F.sum("n_tok")).collect()[0][0] == 4000
        toks = got.agg(F.sum(F.expr(
            "aggregate(tokens, 0L, (a, x) -> a + x)"))).collect()[0][0]
        assert toks == sum(i + i + 1 for i in range(2000))


def test_filter_column_autoincluded_in_projection(spark, tmp_path):
    """Round-2 ADVICE: a filter on a column excluded from ``columns``
    used to fail with an opaque AnalysisException; now the column is
    decoded for the predicate and dropped from the output."""
    path = str(tmp_path / "t")
    df = _mk(spark, 0, 100)
    write_encoded(df, path, n_buckets=2, run_id="r1",
                  bloom_columns=["doc_id"])
    got = read_encoded(spark, path, columns=["doc_id"],
                       range_filter=("n_tok", 2, 2))
    assert got.columns == ["doc_id"] and got.count() == 100
    hit = read_encoded(spark, path, columns=["n_tok"],
                       eq_filter=("doc_id", "d7"))
    assert hit.columns == ["n_tok"] and hit.count() == 1


def _two_runs(spark, path):
    """Runs r1 (d0-d399) and r2 (d400-d599, n_tok 2 -> 5): disjoint
    keys and zones, blooms on doc_id."""
    write_encoded(_mk(spark, 0, 400), path, n_buckets=3, run_id="r1",
                  bloom_columns=["doc_id"], chunk_max_rows=64)
    more = _mk(spark, 400, 600).withColumn("n_tok", F.lit(5))
    write_encoded(local_frame(more), path, n_buckets=3, run_id="r2",
                  epoch=1, chunk_max_rows=64)


LOOKUPS = ({"eq_filter": ("doc_id", "d450")},
           {"eq_filter": ("doc_id", "absent")},
           {"range_filter": ("n_tok", 5, 9)},
           {"range_filter": ("source", "t", "z")})


def test_runs_without_summaries_keep_every_file(spark, tmp_path):
    """Run manifests written before file summaries (no zone, no bloom,
    no sidecar) plan every file and read identically."""
    import shutil

    from tokcodec.scan import plan_snapshot

    path = str(tmp_path / "t")
    _two_runs(spark, path)
    legacy = str(tmp_path / "legacy")
    shutil.copytree(path, legacy)
    runs = os.path.join(legacy, "_runs")
    for name in os.listdir(runs):
        p = os.path.join(runs, name)
        if name.endswith(".bloom"):
            os.remove(p)
        elif name.endswith(".json"):
            m = json.loads(open(p).read())
            for f in m["files"]:
                f.pop("zone", None)
                f.pop("bloom", None)
            open(p, "w").write(json.dumps(m))
    for kw in LOOKUPS:
        filts = [(k.split("_")[0], v) for k, v in kw.items()]
        new, old = plan_snapshot(path, filters=filts), \
            plan_snapshot(legacy, filters=filts)
        assert new.dropped and not old.dropped, kw
        assert old.accepted == plan_snapshot(legacy).accepted
        assert len(old.files) == len(plan_snapshot(legacy).files)
        got = sorted(tuple(r) for r in read_encoded(spark, legacy, **kw)
                     .collect())
        assert got == sorted(tuple(r) for r in read_encoded(spark, path, **kw)
                             .collect()), kw


def test_vacuum_reclaims_an_uncommitted_runs_bloom_sidecar(
        spark, tmp_path, monkeypatch):
    """A write that dies after its run manifest and bloom sidecar, but
    before the lineage commit, leaves both behind; vacuum deletes them
    and keeps the committed run's."""
    import tokcodec.io_tables as iot

    path = str(tmp_path / "t")
    _two_runs(spark, path)
    runs = os.path.join(path, "_runs")
    assert os.path.exists(os.path.join(runs, "r1.bloom"))

    def crash(*_a, **_k):
        raise RuntimeError("crash before the commit point")

    monkeypatch.setattr(iot, "_commit_lineage_local", crash)
    with pytest.raises(RuntimeError, match="commit point"):
        write_encoded(_mk(spark, 600, 700), path, n_buckets=3, run_id="r3",
                      epoch=2)
    monkeypatch.undo()
    assert {"r3.json", "r3.bloom"} <= set(os.listdir(runs))
    res = iot.vacuum_encoded(spark, path)
    assert res["deleted_run_manifests"] == 1
    assert res["deleted_bloom_sidecars"] == 1
    assert sorted(os.listdir(runs)) == ["r1.bloom", "r1.json", "r2.bloom",
                                        "r2.json"]
    assert read_encoded(spark, path, eq_filter=("doc_id", "d450")).count() \
        == 1
    assert read_encoded(spark, path).count() == 600
