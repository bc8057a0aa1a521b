"""Physical-plan assertions: the scale-critical plan shapes must not
silently regress — filters reach the parquet scan, projection prunes
the blocks table's column partitions, small dimensions broadcast, and
decode reads only requested columns."""

import os
import shutil

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def _assert_single_path(df) -> None:
    """The one read path's task placement (forced by the
    task_placement marker at these sizes): a mapInArrow scan task per
    slice of buckets — no grouped decode, no payload shuffle, no
    sort-merge join, and no Spark scan of block files."""
    plan = _plan(df)
    assert "MapInArrow" in plan, plan
    assert "FlatMapGroupsInArrow" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Scan parquet" not in plan, plan


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    q = li.filter(F.col("l_shipdate") <= F.lit("2005-09-02")).select(
        "l_returnflag", "l_quantity"
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read all 16 lineitem columns
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" in rs and "l_quantity" in rs
    assert "l_comment" not in rs and "l_extendedprice" not in rs


def test_small_dim_join_broadcasts(spark):
    import __spark_entry__ as em

    plan = _plan(em.q_join_topcustomers(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.task_placement
def test_decode_projection_prunes_block_partitions(spark, tmp_path):
    import glob

    from tokcodec.io_tables import (
        _direct_file_rows,
        _paths,
        _run_files,
        read_encoded,
        write_encoded,
    )

    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("a", T.IntegerType(), False),
        T.StructField("b", T.IntegerType(), False),
    ])
    df = spark.createDataFrame(
        [Row(doc_id=f"d{i}", a=i, b=-i) for i in range(100)], schema
    )
    path = os.path.join(str(tmp_path), "t")
    write_encoded(df, path, n_buckets=1, run_id="p")
    # the scan task's file plan carries only the requested columns'
    # files — unrequested column b's files never enter it
    files = _run_files(path, ["p"])
    frows = _direct_file_rows(files, {"doc_id", "a"}, _paths(path)[0])
    assert frows and all("/col-doc_id/" in fp or "/col-a/" in fp
                         for _, _, fp, _, _ in frows), frows
    assert any("/col-b/" in fp for _, _, fp, _, _ in _direct_file_rows(
        files, {"doc_id", "a", "b"}, _paths(path)[0]))
    # and the read really never opens them: with b's files gone, the
    # projected read (plain and with the bucket column) still decodes
    for f in glob.glob(os.path.join(path, "blocks", "col-b", "*")):
        os.remove(f)
    proj = read_encoded(spark, path, columns=["doc_id", "a"])
    assert proj.columns == ["doc_id", "a"]
    assert proj.count() == 100
    _assert_single_path(proj)
    bproj = read_encoded(spark, path, columns=["doc_id", "a"],
                         with_bucket_column=True)
    assert bproj.columns == ["doc_id", "a", "__bucket"]
    assert {r["__bucket"] for r in bproj.collect()} == {0}
    _assert_single_path(bproj)


@pytest.mark.task_placement
def test_zone_filter_prunes_before_decode(spark, tmp_path):
    from tokcodec.io_tables import read_encoded, write_encoded

    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n", T.IntegerType(), False),
    ])
    df = spark.createDataFrame(
        [Row(doc_id=f"d{i}", n=i) for i in range(1000)], schema
    )
    path = os.path.join(str(tmp_path), "z")
    write_encoded(df, path, n_buckets=1, run_id="z", chunk_max_rows=100,
                  cluster_by="n")
    # zone pruning runs in the scan task from the bucket's own metas —
    # no join, no payload exchange at all, with or without the
    # provenance bucket column
    for kw in ({}, {"with_bucket_column": True}):
        narrow = read_encoded(spark, path, range_filter=("n", 0, 99),
                              **kw)
        assert narrow.count() == 100
        _assert_single_path(narrow)


@pytest.mark.task_placement
def test_zorder_multirange_plan_broadcasts(spark, tmp_path):
    """Multi-range conjunction over a Z-ordered table: every conjunct
    prunes inside the scan task, so no surviving-chunk join exists
    that could plan as a sort-merge join shuffling the whole blocks
    table per filter at 100 TB."""
    from tokcodec.io_tables import read_encoded, write_encoded

    df = spark.createDataFrame(
        [Row(doc_id=f"d{i:05d}", x=i % 32, y=i // 32, v=i)
         for i in range(1024)],
        "doc_id string, x int, y int, v int")
    path = os.path.join(str(tmp_path), "zo")
    write_encoded(df, path, n_buckets=1, run_id="z",
                  cluster_by=["x", "y"], chunk_max_rows=128)
    # both range conjuncts prune in the scan task: nothing shuffles
    # and nothing sort-merges, with or without the bucket column
    for kw in ({}, {"with_bucket_column": True}):
        q = read_encoded(spark, path,
                         range_filter=[("x", 0, 7), ("y", 0, 7)], **kw)
        _assert_single_path(q)
        assert q.count() == 8 * 8


@pytest.mark.task_placement
def test_read_entry_points_single_path(spark, tmp_path, monkeypatch):
    """Every read entry point plans the one scan task: read_encoded
    plain / with buckets= / with the bucket column / with range and eq
    filters, sample_encoded, read_encoded_as, an aggregate_encoded
    boundary decode (chunk allow-list) and upsert_encoded's two
    reads."""
    from tokcodec import agg, io_tables
    from tokcodec.agg import aggregate_encoded
    from tokcodec.io_tables import (
        read_encoded,
        read_encoded_as,
        sample_encoded,
        upsert_encoded,
        write_encoded,
    )

    df = spark.createDataFrame(
        [Row(doc_id=f"d{i:04d}", k=i * 2, v=i) for i in range(600)],
        "doc_id string, k int, v int")
    path = os.path.join(str(tmp_path), "ep")
    write_encoded(df.repartition(1), path, n_buckets=3, run_id="r",
                  chunk_max_rows=50, cluster_by="k",
                  bloom_columns=["doc_id"])
    reads = {
        "plain": read_encoded(spark, path),
        "buckets": read_encoded(spark, path, buckets=[1]),
        "bucket_col": read_encoded(spark, path, with_bucket_column=True),
        "filters": read_encoded(spark, path, range_filter=("k", 0, 400),
                                eq_filter=("doc_id", "d0042")),
        "sample": sample_encoded(spark, path, 0.5, seed=3),
        "read_as": read_encoded_as(spark, path, T.StructType([
            T.StructField("docId", T.StringType()),
            T.StructField("v", T.LongType())])),
    }
    for name, q in reads.items():
        _assert_single_path(q)
    assert reads["filters"].count() == 1
    assert reads["read_as"].count() == 600

    def recording(target, sink):
        def wrapped(*a, **kw):
            out = target(*a, **kw)
            sink.append((kw, out))
            return out
        return wrapped

    seen: list = []
    monkeypatch.setattr(agg, "read_encoded", recording(read_encoded, seen))
    # an in_filter over gapped keys leaves partial boundary chunks:
    # they decode in the slices that pruned them (chunk_index's decode
    # fold), never through a separate read
    res = aggregate_encoded(spark, path, "v",
                            in_filter=("k", list(range(0, 1200, 6))))
    assert res["rows"] == 200 and res["chunks_decoded"]
    assert not seen

    seen.clear()
    monkeypatch.setattr(io_tables, "read_encoded",
                        recording(read_encoded, seen))
    upd = spark.createDataFrame([Row(doc_id="d0001", k=-1, v=-1)],
                                "doc_id string, k int, v int")
    upsert_encoded(spark, path, upd, key_column="doc_id")
    assert len(seen) == 2  # the key locate read + the touched buckets
    for _kw, q in seen:
        _assert_single_path(q)


def test_small_reads_skip_the_python_task_wave(spark, tmp_path,
                                              monkeypatch):
    """Below the driver cap (tokcodec.io_tables._DRIVER_MAX_BYTES) a
    bloom lookup and a token probe are scanned on the driver: their
    executed plans hold no MapInArrow and no other Python node. Over
    the cap a read keeps its mapInArrow task; when the filter
    column's planned files (those the file summaries keep) alone are
    over the cap the driver opens no block file, and when only the
    survivors are, it opens filter-column files only."""
    from tokcodec import io_tables, scan
    from tokcodec.io_tables import read_encoded, write_encoded

    df = spark.createDataFrame(
        [Row(doc_id=f"d{i:04d}", tokens=[i, i + 1], text="x" * 300)
         for i in range(800)], "doc_id string, tokens array<int>, text string")
    path = os.path.join(str(tmp_path), "small")
    write_encoded(df, path, n_buckets=4, run_id="r", chunk_max_rows=100,
                  bloom_columns=["doc_id", "tokens"])
    python = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
              "BatchEvalPython", "FlatMapGroupsIn", "PythonUDF")
    look = read_encoded(spark, path, eq_filter=("doc_id", "d0042"))
    probe = read_encoded(spark, path, columns=["doc_id"],
                         contains_filter=("tokens", 77))
    miss = read_encoded(spark, path, eq_filter=("doc_id", "absent"))
    for q in (look, probe, miss):
        plan = _plan(q)
        assert "LocalTableScan" in plan, plan
        assert not any(n in plan for n in python), plan
    assert (look.count(), probe.count(), miss.count()) == (1, 2, 0)

    opened: list = []
    real_open = scan._open_block_file
    monkeypatch.setattr(scan, "_open_block_file",
                        lambda p: opened.append(p) or real_open(p))
    doc_bytes = sum(f["bytes"] for f in scan.plan_snapshot(
        path, filters=[("eq", ("doc_id", "d0042"))]).files
        if f["column"] == "doc_id")
    # the filter column's files are over the cap: straight to the tasks
    monkeypatch.setattr(io_tables, "_DRIVER_MAX_BYTES", doc_bytes - 1)
    for q in (read_encoded(spark, path, eq_filter=("doc_id", "d0042")),
              read_encoded(spark, path)):
        assert "MapInArrow" in _plan(q)
    assert opened == []
    # they fit, but the surviving bucket's ~60 KB of text does not
    monkeypatch.setattr(io_tables, "_DRIVER_MAX_BYTES", doc_bytes)
    q = read_encoded(spark, path, eq_filter=("doc_id", "d0042"))
    assert "MapInArrow" in _plan(q)
    assert opened and all("/col-doc_id/" in p for p in opened), opened
    assert q.count() == 1


def test_media_decode_plan_no_extra_shuffle(spark):
    """media pipeline: synth -> encode -> decode -> groupBy(kind).
    Exactly the decode shuffle + the aggregation exchange — the
    feature extraction itself must not introduce one."""
    import __spark_entry__ as em

    # fresh plan: a MATERIALIZED InMemoryRelation's printed plan embeds
    # its child stage a second time (string artifact, not a runtime
    # shuffle), so drop any cache entry a previous test populated
    cached = em._DECODED_CACHE.pop(f"media::{SF_DIR}", None)
    if cached is not None:
        cached.unpersist()
    q = em.q_media_feature_stats(spark, SF_DIR)
    plan = _plan(q)
    # mapInArrow feature extraction is shuffle-free, and so is the
    # decode under it (the cached decoded table's child plan): the
    # only SHUFFLE exchange left is the final aggregate's
    shuffles = plan.count("Exchange hashpartitioning")
    assert shuffles <= 2, (shuffles, plan)


def test_pack_sequences_single_shuffle(spark):
    """Sequence packing is one Exchange on (group, shard) + one
    FlatMapGroupsInArrow — the packer itself must never add a second
    shuffle or fall back to per-row Python."""
    from tokcodec.pack import pack_sequences

    df = spark.createDataFrame(
        [("a", 1, [1, 2, 3]), ("a", 2, [4]), ("b", 1, [5])],
        "source string, did long, tokens array<int>",
    )
    plan = _plan(pack_sequences(df, window=4, id_col="did"))
    assert "FlatMapGroupsInArrow" in plan
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan  # no per-row Python


def test_vocab_topk_partial_agg_and_topk(spark):
    """Token-frequency top-k: the explode must be absorbed by a
    map-side partial aggregate (2 HashAggregates around one exchange)
    and the final k must be TakeOrderedAndProject — never a full
    global sort of the vocabulary."""
    li = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    t = (
        li.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(25)
    )
    plan = _plan(t)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") == 2
    assert "Sort " not in plan  # top-k, not global sort
