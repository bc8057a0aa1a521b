"""Regression tests for the round-1 ADVICE findings: null elements in
flat lists, per-chunk validity alignment, multi-run chunk ordering, and
int32 list-offset overflow guards."""

import os
import shutil

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from tokcodec.io_tables import read_encoded, write_encoded


def _roundtrip(spark, tmp_path, df, n_buckets=2, **kw):
    path = os.path.join(str(tmp_path), "t")
    shutil.rmtree(path, ignore_errors=True)
    write_encoded(df, path, n_buckets=n_buckets, run_id="nh", **kw)
    return read_encoded(spark, path)


def _by_id(df):
    return {r["doc_id"]: r.asDict(recursive=True) for r in df.collect()}


def test_null_elements_in_flat_list(spark, tmp_path):
    # ADVICE high: array<int> [[1, None, 3]] must NOT round-trip as
    # [[1, 0, 3]] — the reference preserves null collection entries
    # (CollectionsWriters / ReadReflection null element paths)
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), True), True),
        T.StructField("source", T.StringType(), False),
    ])
    rows = [
        Row(doc_id="a", tokens=[1, None, 3], source="s"),
        Row(doc_id="b", tokens=[None], source="s"),
        Row(doc_id="c", tokens=[], source="s"),
        Row(doc_id="d", tokens=None, source="s"),
        Row(doc_id="e", tokens=[7, 8], source="s"),
    ]
    df = spark.createDataFrame(rows, schema)
    out = _by_id(_roundtrip(spark, tmp_path, df))
    assert out["a"]["tokens"] == [1, None, 3]
    assert out["b"]["tokens"] == [None]
    assert out["c"]["tokens"] == []
    assert out["d"]["tokens"] is None
    assert out["e"]["tokens"] == [7, 8]


def test_null_elements_in_string_list(spark, tmp_path):
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("ws", T.ArrayType(T.StringType(), True), True),
    ])
    rows = [
        Row(doc_id="a", ws=["x", None, "z"]),
        Row(doc_id="b", ws=[None, None]),
        Row(doc_id="c", ws=["ok"]),
    ]
    df = spark.createDataFrame(rows, schema)
    out = _by_id(_roundtrip(spark, tmp_path, df, n_buckets=1))
    assert out["a"]["ws"] == ["x", None, "z"]
    assert out["b"]["ws"] == [None, None]
    assert out["c"]["ws"] == ["ok"]


def test_partial_null_chunks_align(spark, tmp_path):
    # ADVICE high: validity emitted only for chunks that contain nulls;
    # decode must expand the null-free chunks with all-valid fill
    # instead of misapplying the mask. 10 rows, chunk_max_rows=4 ->
    # 3 chunks per bucket; exactly one null, in the middle chunk.
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("val", T.LongType(), True),
    ])
    rows = [Row(doc_id=f"d{i}", val=(None if i == 5 else i * 10))
            for i in range(10)]
    df = spark.createDataFrame(rows, schema)
    out = _by_id(_roundtrip(spark, tmp_path, df, n_buckets=1,
                            chunk_max_rows=4))
    for i in range(10):
        expect = None if i == 5 else i * 10
        assert out[f"d{i}"]["val"] == expect, (i, out[f"d{i}"])


def test_partial_null_chunks_align_list_elements(spark, tmp_path):
    # same alignment issue one level down: element validity present in
    # only some chunks
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), True), False),
    ])
    rows = [Row(doc_id=f"d{i}",
                tokens=([i, None] if i == 6 else [i, i + 1]))
            for i in range(10)]
    df = spark.createDataFrame(rows, schema)
    out = _by_id(_roundtrip(spark, tmp_path, df, n_buckets=1,
                            chunk_max_rows=3))
    for i in range(10):
        expect = [i, None] if i == 6 else [i, i + 1]
        assert out[f"d{i}"]["tokens"] == expect, (i, out[f"d{i}"])


def test_multi_run_append_alignment(spark, tmp_path):
    # ADVICE medium: blocks from several run_ids carry colliding chunk
    # numbers; every component must concatenate them in the same
    # (run_id, chunk) order or columns silently misalign. Two epochs,
    # multiple chunks each, values derived from doc_id so any
    # misalignment is visible.
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("s", T.StringType(), False),
    ])
    path = os.path.join(str(tmp_path), "t")

    def mk(lo, hi):
        return spark.createDataFrame(
            [Row(doc_id=f"d{i}", n=i * 7, s=f"s{i}") for i in range(lo, hi)],
            schema,
        )

    write_encoded(mk(0, 40), path, n_buckets=2, run_id="zz_run",
                  epoch=0, chunk_max_rows=8)
    write_encoded(mk(40, 80), path, n_buckets=2, run_id="aa_run",
                  epoch=1, chunk_max_rows=8)
    out = _by_id(read_encoded(spark, path))
    assert len(out) == 80
    for i in range(80):
        assert out[f"d{i}"]["n"] == i * 7
        assert out[f"d{i}"]["s"] == f"s{i}"


def test_offsets_overflow_guard():
    # ADVICE medium: int32 offset wraparound must be a clear error, not
    # silent corruption
    from tokcodec.decode import safe_offsets32

    ok = safe_offsets32(np.array([3, 0, 2], dtype=np.int64))
    assert ok.dtype == np.int32 and list(ok) == [0, 3, 3, 5]
    with pytest.raises(ValueError, match="int32"):
        safe_offsets32(np.array([2 ** 30, 2 ** 30, 2 ** 30], dtype=np.int64))
    from tokcodec.codecs.strcodecs import strchunk_to_arrow

    with pytest.raises(ValueError, match="int32"):
        strchunk_to_arrow(b"", np.array([2 ** 30] * 3, dtype=np.int64))


def test_verify_checksums_forwarded_on_range_filter(spark, tmp_path):
    # ADVICE low: read_encoded dropped verify_checksums when a
    # range_filter was set — corrupt a payload and expect the verified
    # filtered read to fail loudly
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n_tok", T.IntegerType(), False),
    ])
    df = spark.createDataFrame(
        [Row(doc_id=f"d{i}", n_tok=i) for i in range(100)], schema
    )
    path = os.path.join(str(tmp_path), "t")
    write_encoded(df, path, n_buckets=1, run_id="ck")
    # flip payload bytes in the n_tok block parquet by rewriting via
    # pyarrow (keep schema identical, corrupt one payload)
    import pyarrow.parquet as pq

    col_dir = os.path.join(path, "blocks", "col-n_tok")
    f = [x for x in os.listdir(col_dir) if x.endswith(".parquet")][0]
    fp = os.path.join(col_dir, f)
    t = pq.read_table(fp)
    payloads = t.column("payload").to_pylist()
    payloads[0] = bytes([b ^ 0xFF for b in payloads[0]])
    t = t.set_column(t.schema.get_field_index("payload"), "payload",
                     pa.array(payloads, pa.binary()))
    pq.write_table(t, fp, compression="none")
    # a read this small decodes on the driver while the frame is built
    # (tokcodec.scan.scan_frame), so the error may come from either
    with pytest.raises(Exception, match="(?i)checksum"):
        read_encoded(spark, path, range_filter=("n_tok", 0, 50),
                     verify_checksums=True).collect()


def test_range_filter_across_epochs(spark, tmp_path):
    # zone pruning joins on (run_id, bucket, chunk); keying on
    # (bucket, chunk) alone can resurrect the wrong run's chunk after
    # multi-epoch appends with colliding chunk numbers
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n", T.IntegerType(), False),
    ])
    path = os.path.join(str(tmp_path), "t")

    def mk(lo, hi):
        return spark.createDataFrame(
            [Row(doc_id=f"d{i}", n=i) for i in range(lo, hi)], schema
        )

    write_encoded(mk(0, 100), path, n_buckets=2, run_id="e0", epoch=0,
                  chunk_max_rows=16, cluster_by="n")
    write_encoded(mk(100, 200), path, n_buckets=2, run_id="e1", epoch=1,
                  chunk_max_rows=16, cluster_by="n")
    out = read_encoded(spark, path, range_filter=("n", 90, 110))
    got = sorted(r["n"] for r in out.collect())
    assert got == list(range(90, 111))
    # doc_id stays aligned with n through the pruned decode
    for r in out.collect():
        assert r["doc_id"] == f"d{r['n']}"


def test_map_of_struct_with_null_values(spark, tmp_path):
    # extended fuzz (seed 42) found this: a MapArray is physically a
    # list<struct>, but casting it to that list type re-validates
    # nullability and rejects nulls under null map values, and
    # pyarrow's list kernels have no map implementations — encode
    # works off offsets directly now
    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("m", T.MapType(
            T.StringType(),
            T.StructType([
                T.StructField("f0", T.LongType(), False),
                T.StructField("f1", T.DoubleType(), True),
            ]),
            True,  # valueContainsNull
        ), True),
    ])
    rows = [
        Row(doc_id="a", m={"k1": Row(f0=1, f1=1.5), "k2": None}),
        Row(doc_id="b", m=None),
        Row(doc_id="c", m={}),
        Row(doc_id="d", m={"x": Row(f0=7, f1=None)}),
    ]
    df = spark.createDataFrame(rows, schema)
    out = _by_id(_roundtrip(spark, tmp_path, df, n_buckets=1))
    assert out["a"]["m"] == {"k1": {"f0": 1, "f1": 1.5}, "k2": None}
    assert out["b"]["m"] is None
    assert out["c"]["m"] == {}
    assert out["d"]["m"] == {"x": {"f0": 7, "f1": None}}
