"""Equality deletes (removal lists): Iceberg equality-delete analogue
with merge-on-read removal inside the slice scan, compaction
materialization and vacuum reclaim. The reference has no row-delete
(a Parquet file is immutable, CarpetWriter.java writes whole files);
this is the table-format
operation a 10^12-row training table needs for contamination/opt-out
removal without rewriting the table per removal."""

import os

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from tokcodec.io_tables import (
    compact_encoded,
    count_encoded,
    delete_encoded,
    describe_encoded,
    read_encoded,
    read_encoded_as,
    read_encoded_direct,
    vacuum_encoded,
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
        [Row(doc_id=f"d{i}", tokens=[i, 2 * i], n_tok=2, source=f"s{i % 3}")
         for i in range(lo, hi)],
        SCHEMA,
    )


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    write_encoded(_mk(spark, 0, 40), path, n_buckets=4, run_id="base")
    return path


def test_delete_roundtrip_both_readers(spark, table):
    info = delete_encoded(spark, table, "doc_id",
                          ["d3", "d7", "d11", "nope"])
    assert info["n_keys"] == 4  # keys are distinct'd, not validated
    gone = {"d3", "d7", "d11"}
    want = sorted(f"d{i}" for i in range(40) if f"d{i}" not in gone)
    assert _ids(read_encoded(spark, table)) == want
    assert _ids(read_encoded_direct(spark, table)) == want
    assert count_encoded(spark, table) == 37


def test_delete_applies_without_key_in_projection(spark, table):
    delete_encoded(spark, table, "doc_id", ["d0", "d1"])
    out = read_encoded(spark, table, columns=["n_tok", "source"])
    assert out.columns == ["n_tok", "source"]
    assert out.count() == 38
    outd = read_encoded_direct(spark, table, columns=["n_tok", "source"])
    assert outd.columns == ["n_tok", "source"]
    assert outd.count() == 38


def test_delete_by_dataframe_and_second_column(spark, table):
    keys = spark.createDataFrame([("d5",), ("d6",)], "k string")
    delete_encoded(spark, table, "doc_id", keys)
    # a second delete on a DIFFERENT column composes (two anti-joins)
    delete_encoded(spark, table, "source", ["s2"])
    rows = read_encoded(spark, table).collect()
    ids = sorted(r.doc_id for r in rows)
    want = sorted(f"d{i}" for i in range(40)
                  if f"d{i}" not in {"d5", "d6"} and i % 3 != 2)
    assert ids == want
    assert count_encoded(spark, table) == len(want)


def test_delete_composes_with_filters(spark, table):
    delete_encoded(spark, table, "doc_id", ["d8"])
    out = read_encoded(spark, table, eq_filter=("doc_id", "d8"))
    assert out.count() == 0
    out = read_encoded_direct(spark, table,
                              range_filter=("n_tok", 2, 2),
                              columns=["doc_id"])
    assert "d8" not in set(r.doc_id for r in out.collect())
    assert out.count() == 39


def test_time_travel_sees_rows_before_delete(spark, table):
    # table written at epoch 0; delete bumps to epoch 1
    info = delete_encoded(spark, table, "doc_id", ["d2"])
    assert info["epoch"] == 1
    assert read_encoded(spark, table, as_of_epoch=0).count() == 40
    assert read_encoded(spark, table, as_of_epoch=1).count() == 39
    assert read_encoded_direct(spark, table, as_of_epoch=0).count() == 40
    assert count_encoded(spark, table, as_of_epoch=0) == 40


def test_compaction_materializes_and_vacuum_reclaims(spark, table):
    delete_encoded(spark, table, "doc_id", ["d1", "d2", "d3"],
                   delete_id="rm1")
    res = compact_encoded(spark, table)
    assert res["deletes_materialized"] == 1
    assert describe_encoded(spark, table)["pending_deletes"] == []
    # metadata fast path again exact after materialization
    assert count_encoded(spark, table) == 37
    assert read_encoded(spark, table).count() == 37
    v = vacuum_encoded(spark, table)
    assert v["deleted_removal_lists"] == 1
    assert not os.path.exists(os.path.join(table, "_deletes", "rm1"))
    assert read_encoded(spark, table).count() == 37


def test_describe_lists_pending_deletes(spark, table):
    delete_encoded(spark, table, "doc_id", ["d1"], delete_id="rm-a")
    pend = describe_encoded(spark, table)["pending_deletes"]
    assert [p["delete_id"] for p in pend] == ["rm-a"]
    assert pend[0]["key_column"] == "doc_id"
    assert pend[0]["n_keys"] == 1


def test_delete_validation(spark, table):
    with pytest.raises(ValueError, match="not in table"):
        delete_encoded(spark, table, "nope", ["x"])
    with pytest.raises(ValueError, match="atomic"):
        delete_encoded(spark, table, "tokens", [[1, 2]])
    with pytest.raises(ValueError, match="delete_id"):
        delete_encoded(spark, table, "doc_id", ["d1"], delete_id="a b")


def test_delete_refuses_encrypted_key(spark, tmp_path):
    path = str(tmp_path / "enc")
    key = bytes(range(16))
    write_encoded(_mk(spark, 0, 8), path, n_buckets=2, run_id="base",
                  encryption_key=key, encrypted_columns=["doc_id"])
    with pytest.raises(ValueError, match="encrypted"):
        delete_encoded(spark, path, "doc_id", ["d1"])
    # deleting by a plaintext column of the same table is fine
    delete_encoded(spark, path, "source", ["s0"])
    out = read_encoded(spark, path, encryption_key=key)
    assert out.count() == 8 - len([i for i in range(8) if i % 3 == 0])


def test_delete_applies_to_later_appends(spark, table):
    # global removal-list semantics (documented deviation from
    # Iceberg's sequence-number scoping): the list suppresses matching
    # rows appended AFTER the delete, until compaction materializes it
    delete_encoded(spark, table, "doc_id", ["d40", "d41"])
    write_encoded(_mk(spark, 40, 44), table, n_buckets=4, run_id="more")
    ids = _ids(read_encoded(spark, table))
    assert "d40" not in ids and "d41" not in ids
    assert "d42" in ids and "d43" in ids


def test_delete_plan_has_no_join(spark, table):
    # deletes are removed inside the slice scan: the executed plan is
    # the scan alone, with no join against the removal list
    delete_encoded(spark, table, "doc_id", ["d1"])
    out = read_encoded(spark, table)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert _ids(out) == sorted(f"d{i}" for i in range(40) if i != 1)


def test_schema_on_read_maps_delete_key(spark, table):
    delete_encoded(spark, table, "doc_id", ["d9"])
    rs = T.StructType([
        T.StructField("docId", T.StringType()),
        T.StructField("nTok", T.LongType()),
    ])
    out = read_encoded_as(spark, table, rs)
    assert out.columns == ["docId", "nTok"]
    assert out.count() == 39
    assert "d9" not in {r.docId for r in out.collect()}
    # a read schema that drops the key column still honours the
    # removal list: the key is decoded for the removal step only
    rs2 = T.StructType([T.StructField("nTok", T.LongType())])
    out2 = read_encoded_as(spark, table, rs2)
    assert out2.columns == ["nTok"]
    assert [r.nTok for r in out2.collect()] == [2] * 39


def test_uuid_key_delete(spark, tmp_path):
    import uuid as _uuid

    path = str(tmp_path / "u")
    ids = [str(_uuid.UUID(int=i)) for i in range(6)]
    df = spark.createDataFrame([(u, i) for i, u in enumerate(ids)],
                               "uid string, v int")
    write_encoded(df, path, n_buckets=2, run_id="base",
                  uuid_columns=["uid"])
    delete_encoded(spark, path, "uid", [ids[0], ids[3]])
    left = {r.uid for r in read_encoded(spark, path).collect()}
    assert left == set(ids) - {ids[0], ids[3]}
    # keys match after canonicalisation (dashes optional, either
    # case), and a malformed key fails the delete before its commit
    delete_encoded(spark, path, "uid", [ids[5].upper().replace("-", "")])
    left = {r.uid for r in read_encoded(spark, path).collect()}
    assert left == set(ids) - {ids[0], ids[3], ids[5]}
    with pytest.raises(Exception, match="not a UUID"):
        delete_encoded(spark, path, "uid", ["not-a-uuid"])
    assert len(describe_encoded(spark, path)["pending_deletes"]) == 2


def test_crashed_delete_is_invisible_and_vacuumed(spark, table):
    # simulate a crash between the key-file write and the lineage
    # commit: write the parquet only — readers must ignore it
    keys = spark.createDataFrame([("d1",)], "doc_id string")
    keys.write.parquet(os.path.join(table, "_deletes", "orphan"))
    assert read_encoded(spark, table).count() == 40
    v = vacuum_encoded(spark, table)
    assert v["deleted_removal_lists"] == 1
    assert not os.path.exists(os.path.join(table, "_deletes", "orphan"))


def test_delete_keeps_rows_predating_the_key_column(spark, tmp_path):
    # rows of a run written before schema evolution added the key
    # column decode with a null key, which no removal list matches
    path = str(tmp_path / "evo")
    write_encoded(spark.createDataFrame([(i,) for i in range(6)],
                                        "n int"),
                  path, n_buckets=2, run_id="old")
    write_encoded(spark.createDataFrame(
        [(i, f"k{i}") for i in range(6, 10)], "n int, key string"),
        path, n_buckets=2, run_id="new", epoch=1, schema_evolution=True)
    delete_encoded(spark, path, "key", ["k6", "k8", "k99"])
    got = sorted((r.n, r.key) for r in read_encoded(spark, path).collect())
    assert got == [(i, None) for i in range(6)] + [(7, "k7"), (9, "k9")]
    assert sorted(r.n for r in read_encoded(
        spark, path, columns=["n"]).collect()) == [0, 1, 2, 3, 4, 5, 7, 9]
    assert count_encoded(spark, path) == 8


def test_removal_lookup_matches_join_equality(tmp_path):
    # the slice's removal step is exact: keys that differ only in a
    # trailing NUL byte stay distinct, NaN matches NaN and -0.0 matches
    # 0.0 (Spark's join equality), a null key matches nothing, and a
    # keep list keeps only its matches
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tokcodec.scan import _Removals

    def kept(keys, col, keep=False):
        f = str(tmp_path / f"keys{len(os.listdir(tmp_path))}.parquet")
        pq.write_table(pa.table({"k": keys}), f)
        rm = _Removals([{"key_column": "k", "file": f, "uuid": False,
                         "keep": keep, "drop": False}])
        return rm.apply(pa.table({"k": col})).column("k").to_pylist()

    assert kept(pa.array([b"a", b"b\x00"]),
                pa.array([b"a\x00", b"b", b"b\x00", None, b"a"])) \
        == [b"a\x00", b"b", None]
    assert kept(pa.array([float("nan"), 0.0]),
                pa.array([float("nan"), -0.0, 1.0, None])) == [1.0, None]
    ts = pa.timestamp("us", tz="UTC")
    assert kept(pa.array([1, 5], ts), pa.array([5, 2, None], ts),
                keep=True) == [pa.scalar(5, ts).as_py()]


def test_removal_step_shared_by_threads(tmp_path):
    # a driver-placed read's slices share one removal step from many
    # threads: the lookup is built once, under its lock, and every
    # thread's bucket loses exactly its deleted rows
    import sys
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tokcodec.scan import _Removals

    f = str(tmp_path / "keys.parquet")
    pq.write_table(pa.table({"k": [f"d{i}" for i in range(0, 3000, 3)]}), f)
    rm = _Removals([{"key_column": "k", "file": f, "uuid": False,
                     "keep": False, "drop": False}])
    builds = []
    build = rm._build
    rm._build = lambda schema: builds.append(1) or build(schema)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            outs = list(pool.map(lambda lo: rm.apply(pa.table(
                {"k": [f"d{i}" for i in range(lo, lo + 300)]})),
                range(0, 3000, 300)))
    finally:
        sys.setswitchinterval(old)
    assert builds == [1]
    for lo, out in zip(range(0, 3000, 300), outs):
        assert out.column("k").to_pylist() == [
            f"d{i}" for i in range(lo, lo + 300) if i % 3]
