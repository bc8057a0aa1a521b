"""Driver-side metadata planning (r5): lineage and delete-log reads on
the read-planning path must cost ZERO Spark jobs — at 100 TB a query's
fixed planning latency is pure anti-scaling overhead (the 250k-row
scaling probe bounded every efficiency measurement at ~2-2.5 s of such
fixed cost). _load_table hands consumers a LocalRelation, so Catalyst
folds filters/projections over it and .collect() is job-free."""

import pytest

from tokcodec.io_tables import (
    _active_deletes,
    _load_table,
    read_encoded,
    write_encoded,
)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("localplan") / "tbl")
    df = spark.createDataFrame(
        [(str(i), i, [i, i + 1]) for i in range(100)],
        "doc_id string, n int, tokens array<int>",
    )
    write_encoded(df, path, n_buckets=4, run_id="r0")
    return path


def _n_jobs(spark) -> int:
    # jobs submitted so far with no job group — every plain action in
    # this suite lands here; a stable count across a call proves the
    # call launched no Spark job
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_load_table_is_local_relation(spark, table):
    manifest, lin = _load_table(spark, table)
    plan = lin._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "FileScan" not in plan


def test_planning_reads_launch_no_jobs(spark, table):
    before = _n_jobs(spark)
    manifest, lin = _load_table(spark, table)
    rows = [(int(r.bucket), r.run_id) for r in lin.collect()]
    dels = _active_deletes(spark, table)
    assert _n_jobs(spark) == before
    assert sorted(b for b, _ in rows) == [0, 1, 2, 3]
    assert dels == []


def test_local_plan_roundtrip_matches(spark, table):
    out = read_encoded(spark, table)
    got = sorted((r.doc_id, r.n, list(r.tokens)) for r in out.collect())
    assert got == sorted((str(i), i, [i, i + 1]) for i in range(100))
    assert len(got) == 100


def test_write_commit_jobs_are_encode_only(spark, tmp_path):
    # every job the write launches is the encode collect itself (AQE
    # may split its shuffle into a sub-job); resume bookkeeping, the
    # lineage commit and the summary aggregate are all driver-side
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([("a", 1), ("b", 2)], "doc_id string, v int")
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    info = write_encoded(df, path, n_buckets=1, run_id="r0", resume=True)
    new = set(st.getJobIdsForGroup(None)) - before
    assert new, "encode must run as a Spark job"
    for j in new:
        ji = st.getJobInfo(j)
        for sid in ji.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                assert "io_tables" in si.name, si.name
    assert info["rows"] == 2 and info["buckets"] == 1


def test_manifest_io_local_fast_path(spark, tmp_path):
    # local paths route manifest text IO through plain open() (no
    # py4j round trips — ~30 ms of fixed planning latency per call
    # through the Hadoop FileSystem API); remote schemes keep the
    # Hadoop branch
    from tokcodec.io_tables import _local_fs_path, _read_text, _write_text

    p = str(tmp_path / "m" / "manifest.json")
    assert _local_fs_path(spark, p) == p
    assert _local_fs_path(spark, "file://" + p) == p
    assert _local_fs_path(spark, "s3://bucket/k.json") is None
    assert _local_fs_path(spark, "hdfs://nn:9000/k.json") is None

    _write_text(spark, p, '{"a": 1}')
    assert _read_text(spark, p) == '{"a": 1}'
    _write_text(spark, p, '{"a": 2}')  # overwrite, like fs.create(p, True)
    assert _read_text(spark, p) == '{"a": 2}'
    with pytest.raises(FileNotFoundError):
        _read_text(spark, str(tmp_path / "absent.json"))


def test_manifest_fast_path_interops_with_hadoop_branch(spark, tmp_path):
    # a manifest written through the Hadoop FileSystem API (pre-change
    # tables) reads back identically through the fast path, and vice
    # versa — the two branches share bytes-on-disk semantics
    from tokcodec.io_tables import _hadoop_fs, _read_text

    p = str(tmp_path / "hadoop_written.json")
    fs, jp = _hadoop_fs(spark, p)
    assert fs is not None
    out = fs.create(jp, True)
    try:
        out.write(bytearray('{"via": "hadoop"}'.encode("utf-8")))
    finally:
        out.close()
    assert _read_text(spark, p) == '{"via": "hadoop"}'


def test_reader_construction_launches_no_jobs(spark, tmp_path):
    """Building read_encoded, read_encoded_as or a DataSource reader
    over a table with many committed runs plans everything from
    metadata read driver-side (run manifests overlapped on the
    metadata thread pool): zero Spark jobs until an action runs."""
    from pyspark.sql import types as T

    from tokcodec.datasource import TokcodecDataSource
    from tokcodec.io_tables import read_encoded_as

    path = str(tmp_path / "many")
    for e in range(11):
        df = spark.createDataFrame([(f"e{e}d{i}", i) for i in range(4)],
                                   "doc_id string, n int")
        write_encoded(df, path, n_buckets=2, run_id=f"e{e}", epoch=e)
    spark.dataSource.register(TokcodecDataSource)
    before = _n_jobs(spark)
    built = [
        read_encoded(spark, path),
        read_encoded(spark, path, columns=["doc_id"],
                     range_filter=("n", 0, 1)),
        read_encoded(spark, path, as_of_epoch=5, with_bucket_column=True),
        read_encoded_as(spark, path, T.StructType(
            [T.StructField("docId", T.StringType())])),
        spark.read.format("tokcodec").load(path),
    ]
    for q in built:  # physical planning (the DataSource's partitions())
        q._jdf.queryExecution().executedPlan()
    assert _n_jobs(spark) == before
    assert [q.count() for q in built] == [44, 22, 24, 44, 44]
