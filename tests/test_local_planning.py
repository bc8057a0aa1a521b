"""Driver-side metadata planning (r5): lineage and delete-log reads on
the read-planning path must cost ZERO Spark jobs — at 100 TB a query's
fixed planning latency is pure anti-scaling overhead (the 250k-row
scaling probe bounded every efficiency measurement at ~2-2.5 s of such
fixed cost). _load_table hands consumers a LocalRelation, so Catalyst
folds filters/projections over it and .collect() is job-free."""

import json

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
    # local paths route manifest IO through pyarrow's LocalFileSystem
    # (no py4j round trips); _write_json_fs / _read_json_fs are the
    # only metadata IO: they overwrite and read back, accept file://
    # URIs and raise FileNotFoundError on a missing file
    from tokcodec.io_tables import _read_json_fs, _write_json_fs

    p = str(tmp_path / "m" / "manifest.json")
    _write_json_fs(p, '{"a": 1}')
    assert _read_json_fs(p) == {"a": 1}
    _write_json_fs(p, '{"a": 2}')  # overwrite, like fs.create(p, True)
    assert _read_json_fs(p) == {"a": 2}
    assert _read_json_fs("file://" + p) == {"a": 2}
    with pytest.raises(FileNotFoundError):
        _read_json_fs(str(tmp_path / "absent.json"))


def test_manifest_fast_path_interops_with_hadoop_branch(spark, tmp_path):
    # a manifest written through the Hadoop FileSystem API (tables from
    # before the pyarrow metadata layer) reads back identically
    from tokcodec.io_tables import _read_json_fs

    h = str(tmp_path / "hadoop_written.json")
    text = '{"via": "hadoop", "s": "\u00e9\u4e2d"}'
    jvm = spark.sparkContext._jvm
    jp = jvm.org.apache.hadoop.fs.Path(h)
    hfs = jp.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    out = hfs.create(jp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    assert _read_json_fs(h) == json.loads(text)


def test_metadata_write_failure_keeps_previous_file(tmp_path, monkeypatch):
    """A failure while the new bytes stream out leaves the previous
    metadata file byte-identical (temp file + move)."""
    from tokcodec import io_tables
    from tokcodec.io_tables import _read_json_fs, _write_json_fs

    mp = tmp_path / "m" / "_manifest.json"
    p = str(mp)
    _write_json_fs(p, '{"a": 2}')
    before = mp.read_bytes()
    real_task_fs = io_tables._task_fs

    class _FailingStream:
        def __init__(self, real):
            self.real = real

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.real.close()
            return False

        def write(self, data):
            self.real.write(data[: len(data) // 2])
            raise OSError("injected write failure")

    class _FailingFs:
        def __init__(self, fs):
            self.fs = fs

        def __getattr__(self, name):
            return getattr(self.fs, name)

        def open_output_stream(self, path):
            return _FailingStream(self.fs.open_output_stream(path))

    def failing_task_fs(path):
        fs, root = real_task_fs(path)
        return _FailingFs(fs), root

    monkeypatch.setattr(io_tables, "_task_fs", failing_task_fs)
    with pytest.raises(OSError, match="injected"):
        _write_json_fs(p, '{"a": 3, "padding": "' + "x" * 64 + '"}')
    monkeypatch.undo()
    assert mp.read_bytes() == before
    assert _read_json_fs(p) == {"a": 2}


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


def test_read_with_pending_delete_launches_no_jobs(spark, tmp_path):
    """A driver-placed read of a table with a pending delete removes
    the keys in the slice scan while read_encoded builds the frame: the
    frame is a local relation, built with zero Spark jobs."""
    from tokcodec.io_tables import delete_encoded

    path = str(tmp_path / "deleted")
    df = spark.createDataFrame([(f"d{i}", i) for i in range(200)],
                               "doc_id string, n int")
    write_encoded(df, path, n_buckets=4, run_id="r0")
    delete_encoded(spark, path, "doc_id", ["d7", "d150"])
    before = _n_jobs(spark)
    out = read_encoded(spark, path, columns=["n"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert _n_jobs(spark) == before
    assert "LocalTableScan" in plan, plan
    assert sorted(r.n for r in out.collect()) == [
        i for i in range(200) if i not in (7, 150)]


def test_metadata_answers_launch_no_jobs(spark, tmp_path):
    """explain_scan, count_encoded and the metadata aggregates read
    block metadata on the driver (tokcodec.scan.chunk_index) when the
    files they read are under the driver cap: a cold call launches
    zero Spark jobs, whatever the filter kind."""
    from tokcodec.agg import aggregate_encoded, quantile_encoded
    from tokcodec.io_tables import (
        approx_count_distinct_encoded,
        count_encoded,
        explain_scan,
        profile_encoded,
    )

    path = str(tmp_path / "meta")
    df = spark.createDataFrame(
        [(f"d{i:03d}", i, [i, i + 1]) for i in range(200)],
        "doc_id string, n int, tokens array<int>")
    write_encoded(df, path, n_buckets=4, run_id="r0", chunk_max_rows=16,
                  cluster_by="n", bloom_columns=["doc_id"],
                  sketch_columns=["doc_id"])
    before = _n_jobs(spark)
    rng = explain_scan(spark, path, range_filter=("n", 10, 20))
    eq = explain_scan(spark, path, eq_filter=("doc_id", "d007"))
    n = count_encoded(spark, path)
    agg = aggregate_encoded(spark, path, "n")
    q = quantile_encoded(spark, path, "n", 0.5)
    prof = profile_encoded(spark, path)
    ndv = approx_count_distinct_encoded(spark, path, "doc_id")
    assert _n_jobs(spark) == before
    for ex in (rng, eq):
        assert 0 < ex["chunks_scanned"] < ex["chunks_total"], ex
    assert n == 200
    assert agg["chunks_decoded"] == 0 and agg["rows"] == 200
    assert agg["sum"] == sum(range(200))
    assert q == 99
    assert prof["rows"] == 200 and prof["columns"]["n"]["max"] == 199
    assert ndv["rows"] == 200 and ndv["chunks"] > 0
