"""Zone-map chunk skipping (encoded-block analogue of parquet
row-group pruning; PAPERS.md Global Range Encoding idea)."""

import pytest
from pyspark.sql import functions as F

from tokcodec import read_encoded, write_encoded
from tokcodec.synth import synth_df


@pytest.fixture(scope="module")
def enc(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("zones") / "enc")
    # cluster within buckets by n_tok so chunks get disjoint ranges
    # (the column-permutation idea from the SIGMOD 2020 RLE paper:
    # clustering makes zone maps selective). CHUNK_MAX_VALUES splits
    # each ~10k-row bucket into several chunks via the token budget.
    df = synth_df(spark, 20_000, seed=21, partitions=8)
    write_encoded(df, path, n_buckets=2, run_id="r1", cluster_by="n_tok",
                  chunk_max_values=1 << 19)  # several chunks per bucket
    return path, df


def test_range_filter_correct(spark, enc):
    path, df = enc
    lo, hi = 100, 200
    got = read_encoded(spark, path, range_filter=("n_tok", lo, hi))
    expect = df.filter((F.col("n_tok") >= lo) & (F.col("n_tok") <= hi))
    assert got.count() == expect.count()
    assert got.select(F.sum("n_tok")).collect()[0][0] == \
        expect.select(F.sum("n_tok")).collect()[0][0]


def test_range_filter_prunes_chunks(spark, enc):
    path, _ = enc
    from tokcodec.schema import BLOCK_DDL

    blocks = spark.read.schema(BLOCK_DDL).option(
        "recursiveFileLookup", "true").parquet(path + "/blocks")
    total_chunks = blocks.filter(
        (F.col("column") == "n_tok") & (F.col("component") == "values")
    ).count()
    surviving = blocks.filter(
        (F.col("column") == "n_tok") & (F.col("component") == "values")
        & (F.get_json_object("meta", "$.hi").cast("long") >= 4000)
        & (F.get_json_object("meta", "$.lo").cast("long") <= 99999)
    ).count()
    # high-n_tok tail lives in few chunks after the n_tok sort
    assert surviving < total_chunks, (surviving, total_chunks)
    got = read_encoded(spark, path, range_filter=("n_tok", 4000, 99999))
    assert got.filter(F.col("n_tok") < 4000).count() == 0


def test_empty_range(spark, enc):
    path, _ = enc
    got = read_encoded(spark, path, range_filter=("n_tok", 10**7, 10**8))
    assert got.count() == 0

@pytest.fixture(scope="module")
def enc_dates(spark, tmp_path_factory):
    """Events-like frame with date + timestamp columns, clustered by
    date so chunk zone maps get disjoint day ranges."""
    path = str(tmp_path_factory.mktemp("zones_dt") / "enc")
    df = spark.range(20_000).select(
        F.col("id").alias("event_id"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   (F.col("id") % 365).cast("int")).alias("d"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id") * 60)).alias("ts"),
    )
    write_encoded(df, path, n_buckets=2, run_id="r1", cluster_by="d",
                  chunk_max_rows=2_000)
    return path, df


def test_date_range_filter(spark, enc_dates):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path, df = enc_dates
    got = read_encoded(spark, path,
                       range_filter=("d", "2024-03-01", "2024-03-31"))
    expect = df.filter(F.col("d").between("2024-03-01", "2024-03-31"))
    assert got.count() == expect.count() > 0
    assert got.agg(F.sum("event_id")).collect()[0][0] == \
        expect.agg(F.sum("event_id")).collect()[0][0]


def test_date_range_prunes_chunks(spark, enc_dates):
    """The day-clustered chunks must actually skip: count surviving
    zone ranges for a one-month window."""
    path, _ = enc_dates
    from tokcodec.schema import BLOCK_DDL

    import datetime

    lo = (datetime.date(2024, 3, 1) - datetime.date(1970, 1, 1)).days
    hi = lo + 30
    blocks = spark.read.schema(BLOCK_DDL).option(
        "recursiveFileLookup", "true").parquet(path + "/blocks")
    zones = blocks.filter(
        (F.col("column") == "d") & (F.col("component") == "values"))
    total = zones.count()
    surviving = zones.filter(
        (F.get_json_object("meta", "$.hi").cast("long") >= lo)
        & (F.get_json_object("meta", "$.lo").cast("long") <= hi)
    ).count()
    assert 0 < surviving < total, (surviving, total)


def test_timestamp_range_filter(spark, enc_dates):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path, df = enc_dates
    import datetime

    lo = datetime.datetime(2024, 1, 3, 0, 0, 0)
    hi = datetime.datetime(2024, 1, 5, 0, 0, 0)
    got = read_encoded(spark, path, range_filter=("ts", lo, hi))
    expect = df.filter(F.col("ts").between(lo, hi))
    assert got.count() == expect.count() > 0


def test_date_in_filter(spark, enc_dates):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path, df = enc_dates
    days = ["2024-02-01", "2024-07-04"]
    got = read_encoded(spark, path, in_filter=("d", days))
    expect = df.filter(F.col("d").isin(days))
    assert got.count() == expect.count() > 0


@pytest.fixture(scope="module")
def enc_strings(spark, tmp_path_factory):
    """URL-like sortable string keys + a binary column, clustered so
    chunks get tight lexicographic ranges."""
    path = str(tmp_path_factory.mktemp("zones_str") / "enc")
    df = spark.range(10_000).select(
        F.col("id").alias("k"),
        F.format_string("user-%05d", F.col("id")).alias("name"),
        F.encode(F.format_string("blob-%05d", F.col("id")), "utf-8")
        .alias("payload"),
        # long strings sharing a >24-byte prefix: exercises truncation
        F.concat(F.lit("x" * 30), F.format_string("%05d", F.col("id")))
        .alias("longkey"),
    )
    write_encoded(df, path, n_buckets=2, run_id="r1", cluster_by="name",
                  chunk_max_rows=1_000)
    return path, df


def test_string_range_filter(spark, enc_strings):
    path, df = enc_strings
    got = read_encoded(spark, path,
                       range_filter=("name", "user-02000", "user-02999"))
    expect = df.filter(F.col("name").between("user-02000", "user-02999"))
    assert got.count() == expect.count() == 1000
    assert got.agg(F.sum("k")).collect()[0][0] == \
        expect.agg(F.sum("k")).collect()[0][0]


def test_string_range_prunes_chunks(spark, enc_strings):
    import base64

    path, _ = enc_strings
    from tokcodec.schema import BLOCK_DDL

    blocks = spark.read.schema(BLOCK_DDL).option(
        "recursiveFileLookup", "true").parquet(path + "/blocks")
    zones = blocks.filter(
        (F.col("column") == "name") & (F.col("component") == "values"))
    total = zones.count()
    lo = base64.b64encode(b"user-02000").decode()
    surviving = zones.filter(
        (F.unbase64(F.get_json_object("meta", "$.shi"))
         >= F.lit(b"user-02000"))
        & (F.unbase64(F.get_json_object("meta", "$.slo"))
           <= F.lit(b"user-02999"))
    ).count()
    assert 0 < surviving < total, (surviving, total, lo)


def test_string_in_filter(spark, enc_strings):
    path, df = enc_strings
    names = ["user-00017", "user-09009"]
    got = read_encoded(spark, path, in_filter=("name", names))
    assert sorted(r.name for r in got.collect()) == names


def test_binary_range_filter(spark, enc_strings):
    path, df = enc_strings
    got = read_encoded(
        spark, path,
        range_filter=("payload", b"blob-00100", b"blob-00199"),
    )
    expect = df.filter(
        (F.col("payload") >= F.lit(b"blob-00100"))
        & (F.col("payload") <= F.lit(b"blob-00199"))
    )
    assert got.count() == expect.count() == 100


def test_truncated_long_prefix_correct(spark, enc_strings):
    """Keys share a 30-char prefix, so every stored bound is truncated
    at 24 bytes; pruning must keep every chunk that can match (the
    incremented-hi upper bound) and the residual keeps exactness."""
    path, df = enc_strings
    lo = "x" * 30 + "00123"
    hi = "x" * 30 + "00456"
    got = read_encoded(spark, path, range_filter=("longkey", lo, hi))
    expect = df.filter(F.col("longkey").between(lo, hi))
    assert got.count() == expect.count() == 334


def test_string_empty_range(spark, enc_strings):
    path, _ = enc_strings
    got = read_encoded(spark, path,
                       range_filter=("name", "zzz-0", "zzz-9"))
    assert got.count() == 0


def test_combined_filters(spark, enc_strings):
    """range + in + eq filters compose as a conjunction: survivors are
    the intersection of each filter's surviving chunks, residuals AND."""
    path, df = enc_strings
    got = read_encoded(
        spark, path,
        range_filter=("name", "user-01000", "user-01999"),
        in_filter=("k", list(range(1500, 1600))),
    )
    expect = df.filter(
        F.col("name").between("user-01000", "user-01999")
        & F.col("k").isin(list(range(1500, 1600)))
    )
    assert got.count() == expect.count() == 100

    # contradictory conjunction -> empty, cheaply
    none = read_encoded(
        spark, path,
        range_filter=("name", "user-01000", "user-01999"),
        eq_filter=("name", "user-09000"),
    )
    assert none.count() == 0


def test_combined_filters_projection(spark, enc_strings):
    path, df = enc_strings
    got = read_encoded(
        spark, path, columns=["payload"],
        range_filter=("name", "user-00100", "user-00199"),
        in_filter=("k", [150, 151]),
    )
    assert got.columns == ["payload"]
    assert sorted(r.payload for r in got.collect()) == \
        [b"blob-00150", b"blob-00151"]


def test_nullable_zone_bounds_exclude_fill(spark, tmp_path):
    """A nullable int column's zone bounds come from its NON-NULL
    values: the null-fill default (0) must not pin lo at 0, so a
    range far below the real values prunes EVERY chunk (it used to
    decode all of them). Null rows can never satisfy the residual,
    so correctness is unchanged."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    from tokcodec import explain_scan

    sch = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("v", T.IntegerType(), True),
    ])
    df = spark.createDataFrame(
        [Row(doc_id=f"d{i}", v=None if i % 7 == 0 else 100 + i % 50)
         for i in range(400)], sch)
    path = str(tmp_path / "nullzone")
    write_encoded(df, path, n_buckets=2, run_id="r1")
    rep = explain_scan(spark, path, range_filter=("v", 0, 50))
    assert rep["chunks_scanned"] == 0
    assert read_encoded(spark, path,
                        range_filter=("v", 0, 50)).count() == 0
    # the real range still decodes and matches, nulls dropped by the
    # residual
    got = read_encoded(spark, path, range_filter=("v", 100, 149))
    assert got.count() == df.filter("v is not null").count()


def test_or_filter_disjunction(spark, enc):
    """or_filter: disjunction of range slabs — rows match Spark's OR,
    pruning = union of the branches' survivor sets (multi-slab
    Z-order/cluster read shape)."""
    path, df = enc
    slabs = [("n_tok", 50, 120), ("n_tok", 400, 460)]
    got = read_encoded(spark, path, or_filter=slabs)
    want = df.filter(((F.col("n_tok") >= 50) & (F.col("n_tok") <= 120))
                     | ((F.col("n_tok") >= 400)
                        & (F.col("n_tok") <= 460)))
    assert got.count() == want.count() > 0
    assert got.agg(F.sum("n_tok")).collect()[0][0] \
        == want.agg(F.sum("n_tok")).collect()[0][0]
    # composes as ONE conjunct next to other filters
    got2 = read_encoded(spark, path, or_filter=slabs,
                        range_filter=("n_tok", 0, 110))
    want2 = want.filter(F.col("n_tok") <= 110)
    assert got2.count() == want2.count() > 0
    # pruning: the two slabs' unioned survivors skip interior chunks
    from tokcodec.io_tables import explain_scan

    rep = explain_scan(spark, path, or_filter=slabs)
    assert rep["chunks_scanned"] < rep["chunks_total"]
    assert rep["filters"][0]["column"] == "n_tok|n_tok"
    # mixed columns in one disjunction
    got3 = read_encoded(
        spark, path,
        or_filter=[("n_tok", 50, 120), ("doc_id", "10", "199")])
    want3 = df.filter(((F.col("n_tok") >= 50) & (F.col("n_tok") <= 120))
                      | ((F.col("doc_id") >= "10")
                         & (F.col("doc_id") <= "199")))
    assert got3.count() == want3.count() > 0
    with pytest.raises(ValueError, match="LIST"):
        read_encoded(spark, path, or_filter=("n_tok", 1, 2))


def test_or_filter_direct_reader(spark, enc):
    """The shuffle-free direct reader prunes and filters the same
    disjunction executor-side."""
    from tokcodec.io_tables import read_encoded_direct

    path, df = enc
    slabs = [("n_tok", 50, 120), ("n_tok", 400, 460)]
    got = read_encoded_direct(spark, path, or_filter=slabs)
    want = df.filter(((F.col("n_tok") >= 50) & (F.col("n_tok") <= 120))
                     | ((F.col("n_tok") >= 400)
                        & (F.col("n_tok") <= 460)))
    assert got.count() == want.count() > 0
    assert got.agg(F.sum("n_tok")).collect()[0][0] \
        == want.agg(F.sum("n_tok")).collect()[0][0]
    mixed = read_encoded_direct(
        spark, path,
        or_filter=[("n_tok", 50, 120), ("doc_id", "10", "199")],
        range_filter=("n_tok", 0, 450))
    wantm = df.filter(
        (((F.col("n_tok") >= 50) & (F.col("n_tok") <= 120))
         | ((F.col("doc_id") >= "10") & (F.col("doc_id") <= "199")))
        & (F.col("n_tok") <= 450))
    assert mixed.count() == wantm.count() > 0


# ---------------------------------------------- merged in_filter bounds
def test_in_filter_large_probe_list_merges(spark, tmp_path):
    """A 10k-key in_filter (the runtime-filter join's shape) must not
    build one Catalyst OR term per probe: probes merge into gap-free
    ranges (adjacency=1) and past 64 ranges collapse to the convex
    hull — pruning degrades, results never change."""
    import time

    from pyspark.sql import functions as F

    from tokcodec.io_tables import (
        _merge_zone_bounds,
        explain_scan,
        read_encoded,
        write_encoded,
    )

    # merge behavior itself
    b, exact = _merge_zone_bounds([(3, 3), (4, 4), (5, 5), (9, 9)],
                                  adjacency=1)
    assert b == [(3, 5), (9, 9)] and exact
    scattered = [(i * 10, i * 10) for i in range(200)]
    b, exact = _merge_zone_bounds(scattered, adjacency=1)
    assert b == [(0, 1990)] and not exact  # hull collapse past 64

    base = str(tmp_path / "bigin")
    df = spark.range(5000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    write_encoded(df.repartition(1), base, n_buckets=2,
                  chunk_max_rows=256, cluster_by="k")
    # 10k probes, half of them hitting: contiguous run + scattered
    probes = list(range(1000, 2000)) + list(range(0, 20000, 7))
    t0 = time.monotonic()
    got = read_encoded(spark, base, in_filter=("k", probes))
    n = got.count()
    wall = time.monotonic() - t0
    want = df.filter(F.col("k").isin(probes)).count()
    assert n == want
    # plan compile + run stays sane (a 10k-term OR tree would not)
    assert wall < 60, wall
    ex = explain_scan(spark, base, in_filter=("k", probes))
    assert ex["chunks_scanned"] <= ex["chunks_total"]


def test_in_coverage_contiguous_range_exact(spark, tmp_path):
    """Gap-free merged in-ranges COVER interior chunks (strictly
    better than the old single-valued-chunk test); gapped probe lists
    never over-cover."""
    from pyspark.sql import functions as F

    from tokcodec.agg import aggregate_encoded

    from tokcodec.io_tables import write_encoded

    base = str(tmp_path / "cov")
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    write_encoded(df.repartition(1), base, n_buckets=1,
                  chunk_max_rows=64, cluster_by="k")
    # contiguous probe run spanning several chunks: interior chunks
    # must be metadata-answered
    got = aggregate_encoded(spark, base, "v",
                            in_filter=("k", list(range(100, 400))))
    want = df.filter(F.col("k").between(100, 399)) \
        .agg(F.count(F.lit(1)), F.sum("v")).collect()[0]
    assert got["rows"] == want[0] and int(got["sum"]) == int(want[1])
    assert got["chunks_meta"] > 0
    # gapped probes over the same span: same answer, no over-coverage
    gapped = list(range(100, 400, 2))
    got2 = aggregate_encoded(spark, base, "v",
                             in_filter=("k", gapped))
    want2 = df.filter(F.col("k").isin(gapped)) \
        .agg(F.count(F.lit(1)), F.sum("v")).collect()[0]
    assert got2["rows"] == want2[0] and int(got2["sum"]) == int(want2[1])


def test_empty_in_filter_returns_empty(spark, tmp_path):
    """Review fix: in_filter with an empty probe list is an empty
    result, not an IndexError (pre-merge behavior restored)."""
    from pyspark.sql import functions as F

    from tokcodec.io_tables import read_encoded, write_encoded

    base = str(tmp_path / "emptyin")
    df = spark.range(100).select(F.col("id").alias("k"),
                                 (F.col("id") * 1.5).alias("x"),
                                 F.concat(F.lit("s"), F.col("id"))
                                 .alias("s"))
    write_encoded(df.repartition(1), base, n_buckets=1,
                  chunk_max_rows=32)
    for col in ("k", "x", "s"):
        assert read_encoded(spark, base,
                            in_filter=(col, [])).count() == 0


def test_nan_float_probes_sound(spark, tmp_path):
    """Review fix: NaN probes in a float in_filter must not scramble
    the merged zone bounds — finite probes keep matching. A NaN probe
    itself raises: the zone maps ignore NaN rows, so whether a NaN row
    is found would depend on whether its chunk's finite zone meets the
    other probes."""
    base = str(tmp_path / "nanin")
    rows = [(i, float(i)) for i in range(200)] + [(999, float("nan"))]
    df = spark.createDataFrame(rows, "k long, x double")
    write_encoded(df.repartition(1), base, n_buckets=1,
                  chunk_max_rows=32)
    # >64 scattered finite probes: the hull stays finite
    probes = [float(i) for i in range(0, 200, 3)]
    got = read_encoded(spark, base, in_filter=("x", probes))
    want = df.filter(F.col("x").isin(probes))
    assert sorted(r["k"] for r in got.collect()) \
        == sorted(r["k"] for r in want.collect())
    with pytest.raises(ValueError, match="NaN"):
        read_encoded(spark, base, in_filter=("x", probes + [float("nan")]))
