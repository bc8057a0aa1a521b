"""The one read path (the shuffle-free scan task behind read_encoded
and its read_encoded_direct alias) returns exactly the source rows on
projections, multi-epoch tables, filters and uuid expansion."""

import os

from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from tokcodec.io_tables import read_encoded, read_encoded_direct, write_encoded

SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("n_tok", T.IntegerType(), False),
    T.StructField("source", T.StringType(), False),
])


def _mk(spark, lo, hi):
    return spark.createDataFrame(
        [Row(doc_id=f"d{i}", tokens=[i, i + 1], n_tok=2,
             source=f"s{i % 3}") for i in range(lo, hi)], SCHEMA)


def _sorted_rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: t[0]
    )


def test_multi_epoch_read_matches_source(spark, tmp_path):
    path = os.path.join(str(tmp_path), "t")
    write_encoded(_mk(spark, 0, 200), path, n_buckets=4, run_id="r1",
                  epoch=0, chunk_max_rows=32)
    write_encoded(_mk(spark, 200, 300), path, n_buckets=4, run_id="r2",
                  epoch=1, chunk_max_rows=32)
    got = _sorted_rows(read_encoded(spark, path))
    assert got == _sorted_rows(_mk(spark, 0, 300)) and len(got) == 300
    assert _sorted_rows(read_encoded_direct(spark, path)) == got
    # payloads never enter a Spark scan: each task opens its buckets'
    # files itself
    plan = read_encoded(spark, path)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Scan parquet" not in plan


def test_direct_projection(spark, tmp_path):
    path = os.path.join(str(tmp_path), "t2")
    write_encoded(_mk(spark, 0, 100), path, n_buckets=2, run_id="r1")
    d = read_encoded_direct(spark, path, columns=["doc_id", "n_tok"])
    assert d.columns == ["doc_id", "n_tok"]
    assert d.count() == 100
    assert d.agg(F.sum("n_tok")).collect()[0][0] == 200


def test_direct_uuid_expansion(spark, tmp_path):
    import uuid as uuidlib

    us = [str(uuidlib.UUID(int=i * 7919 + 3)) for i in range(40)]
    df = spark.createDataFrame(
        [Row(id=u, n=i) for i, u in enumerate(us)], "id string, n int")
    path = os.path.join(str(tmp_path), "t3")
    write_encoded(df, path, n_buckets=2, run_id="u", uuid_columns=["id"])
    out = {r["n"]: r["id"] for r in read_encoded_direct(spark, path).collect()}
    for i, u in enumerate(us):
        assert out[i] == u


def test_filters_match_source(spark, tmp_path):
    """The scan task's chunk pruning (zone bounds + blooms evaluated
    in the task) must return exactly the source rows the predicate
    selects, for every filter kind and their conjunction."""
    path = str(tmp_path / "encf")
    df = spark.range(8_000).select(
        F.format_string("d%05d", F.col("id")).alias("doc_id"),
        F.col("id").cast("int").alias("k"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   (F.col("id") % 200).cast("int")).alias("d"),
    )
    write_encoded(df, path, n_buckets=4, run_id="r", cluster_by="k",
                  chunk_max_rows=500, bloom_columns=["doc_id"])

    cases = [
        ({"range_filter": ("k", 1000, 1999)}, "k BETWEEN 1000 AND 1999"),
        ({"range_filter": ("d", "2024-03-01", "2024-03-31")},
         "d BETWEEN DATE'2024-03-01' AND DATE'2024-03-31'"),
        ({"in_filter": ("k", [17, 4242, 7999])}, "k IN (17, 4242, 7999)"),
        ({"eq_filter": ("doc_id", "d00777")}, "doc_id = 'd00777'"),
        ({"range_filter": ("k", 500, 2500),
          "eq_filter": ("doc_id", "d00777")},
         "k BETWEEN 500 AND 2500 AND doc_id = 'd00777'"),
        ({"range_filter": ("doc_id", "d00100", "d00199"),
          "in_filter": ("k", list(range(150, 260)))},
         "doc_id BETWEEN 'd00100' AND 'd00199' AND k BETWEEN 150 AND 259"),
    ]
    for case, where in cases:
        got = sorted(read_encoded(spark, path, **case).collect())
        want = sorted(df.filter(where).collect())
        assert got == want, (case, len(got), len(want))
        assert len(got) > 0, case
    # projection + filter on a non-projected column
    got = sorted(read_encoded(spark, path, columns=["doc_id"],
                              range_filter=("k", 10, 20)).collect())
    assert got == sorted(df.filter("k BETWEEN 10 AND 20")
                         .select("doc_id").collect())
    assert len(got) == 11


def test_shared_file_one_row_group_per_bucket(spark, tmp_path,
                                              monkeypatch):
    """A writer task holding several buckets must emit one parquet ROW
    GROUP per bucket (for LARGE files — small ones keep a single group
    so footer overhead stays off the compression ratio), so the direct
    reader's ("bucket", "=", b) filter reads only that bucket's
    payload bytes instead of re-reading the whole shared file once per
    bucket it covers (r6)."""
    import glob
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import Row

    from tokcodec import io_tables
    from tokcodec.io_tables import read_encoded_direct, write_encoded

    # lower the size gate so the fixture-sized file exercises the split
    monkeypatch.setattr(io_tables, "_SPLIT_GROUP_MIN_BYTES", 1)
    df = spark.createDataFrame(
        [Row(doc_id=f"d{i:04d}", k=i) for i in range(2000)],
        "doc_id string, k int",
    )
    path = os.path.join(str(tmp_path), "shared")
    # n_buckets far above the core count forces multi-bucket tasks
    write_encoded(df, path, n_buckets=64, run_id="s")
    shared = 0
    for f in glob.glob(os.path.join(path, "blocks", "col-k",
                                    "*.parquet")):
        pf = pq.ParquetFile(f)
        ci = pf.schema_arrow.names.index("bucket")
        buckets = set()
        for g in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(g).column(ci).statistics
            assert st.min == st.max  # one bucket per row group
            buckets.add(st.min)
        if pf.metadata.num_row_groups > 1:
            shared += 1
            assert len(buckets) == pf.metadata.num_row_groups
    assert shared > 0  # the layout under test actually occurred
    out = read_encoded_direct(spark, path)
    assert out.count() == 2000
