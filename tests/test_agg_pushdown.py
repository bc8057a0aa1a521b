"""Aggregate pushdown (tokcodec.agg.aggregate_encoded): metadata-only
COUNT/SUM/MIN/MAX for covered chunks, exact decode of boundary
chunks, and every fallback path (deletes, encryption, evolution,
bloom filters, missing sum stats) — all checked against Spark's own
aggregation over the decoded table."""

from __future__ import annotations

import json
import shutil

import pytest
from conftest import placed
from pyspark.sql import functions as F

from tokcodec.agg import aggregate_encoded
from tokcodec.io_tables import (
    delete_encoded,
    read_encoded,
    write_encoded,
)


def _truth(df, col, pred=None):
    if pred is not None:
        df = df.filter(pred)
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count(col).alias("nonnull"),
        F.sum(col).alias("s"),
        F.min(col).alias("mn"),
        F.max(col).alias("mx"),
    ).collect()[0]
    return {"rows": int(r["rows"]), "nonnull": int(r["nonnull"]),
            "sum": None if r["s"] is None else r["s"],
            "min": r["mn"], "max": r["mx"]}


def _check(got, want):
    for k in ("rows", "nonnull", "min", "max"):
        assert got[k] == want[k], (k, got, want)
    gs, ws = got["sum"], want["sum"]
    assert (gs is None) == (ws is None), (got, want)
    if gs is not None:
        assert int(gs) == int(ws) or gs == ws, (got, want)


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("aggtbl") / "t")
    # v rises with id so chunk zones are tight; every 7th v is null
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 != 0, F.col("id") * 3).cast("long")
        .alias("v"),
        (F.col("id") % 10).cast("int").alias("grp"),
        F.concat(F.lit("s"), F.col("id")).alias("name"),
    )
    # small chunks + cluster_by k => many chunks, tight k zones
    write_encoded(df.repartition(1), base, n_buckets=4,
                  chunk_max_rows=64, cluster_by="k",
                  bloom_columns=["name"])
    yield spark, base, df
    shutil.rmtree(base, ignore_errors=True)


def test_unfiltered_all_meta(table):
    spark, base, df = table
    got = aggregate_encoded(spark, base, "v")
    _check(got, _truth(df, "v"))
    assert got["chunks_decoded"] == 0
    assert got["chunks_meta"] == got["chunks_total"] > 4


def test_boundary_filter_mixed(table):
    spark, base, df = table
    got = aggregate_encoded(spark, base, "v",
                            range_filter=("k", 100, 899))
    _check(got, _truth(df, "v", (F.col("k") >= 100) & (F.col("k") <= 899)))
    # interior chunks answered from metadata, boundary chunks decoded
    assert got["chunks_meta"] > 0
    assert 0 < got["chunks_decoded"] < got["chunks_total"]
    assert got["chunks_scanned"] < got["chunks_total"]


def test_filter_on_agg_column_itself(table):
    spark, base, df = table
    got = aggregate_encoded(spark, base, "v",
                            range_filter=("v", 300, 2400))
    _check(got, _truth(df, "v", (F.col("v") >= 300) & (F.col("v") <= 2400)))


def test_empty_result(table):
    spark, base, df = table
    got = aggregate_encoded(spark, base, "v",
                            range_filter=("k", 5000, 6000))
    assert got["rows"] == 0 and got["nonnull"] == 0
    assert got["sum"] is None and got["min"] is None


def test_bloom_filter_all_partial(table):
    spark, base, df = table
    got = aggregate_encoded(spark, base, "v",
                            eq_filter=("name", "s123"))
    _check(got, _truth(df, "v", F.col("name") == "s123"))
    assert got["chunks_meta"] == 0  # blooms never prove coverage
    assert got["chunks_scanned"] < got["chunks_total"]  # but they prune


def test_in_filter_and_conjunction(table):
    spark, base, df = table
    got = aggregate_encoded(spark, base, "v",
                            range_filter=[("k", 0, 499),
                                          ("grp", 2, 2)])
    _check(got, _truth(df, "v", (F.col("k") <= 499) & (F.col("grp") == 2)))
    got = aggregate_encoded(spark, base, "v",
                            in_filter=("grp", [3, 5]))
    _check(got, _truth(df, "v", F.col("grp").isin(3, 5)))


def test_decimal_column(spark, tmp_path):
    base = str(tmp_path / "dec")
    df = spark.range(200).select(
        F.col("id").alias("k"),
        (F.col("id") * 1.5).cast("decimal(12,2)").alias("amt"))
    write_encoded(df.repartition(1), base, n_buckets=2,
                  chunk_max_rows=32, cluster_by="k")
    got = aggregate_encoded(spark, base, "amt",
                            range_filter=("k", 10, 150))
    want = _truth(df, "amt", (F.col("k") >= 10) & (F.col("k") <= 150))
    _check(got, want)
    assert got["chunks_meta"] > 0


def test_deletes_force_decode_path(table, tmp_path):
    spark, base, df = table
    dst = str(tmp_path / "del")
    shutil.copytree(base, dst)
    delete_encoded(spark, dst, "k", [10, 20, 30])
    got = aggregate_encoded(spark, dst, "v")
    want = _truth(read_encoded(spark, dst), "v")
    _check(got, want)
    # every surviving chunk is partial and decodes in its slice
    assert got["path"] == "meta+decode"
    assert got["chunks_meta"] == 0
    assert got["chunks_decoded"] == got["chunks_scanned"] > 0
    assert got["rows"] == 997


def test_overflow_guard_skips_sum_stat(spark, tmp_path):
    base = str(tmp_path / "big")
    big = 2**62
    df = spark.range(100).select(
        F.col("id").alias("k"),
        (F.lit(big) + F.col("id")).alias("v"))
    write_encoded(df.repartition(1), base, n_buckets=1,
                  chunk_max_rows=32)
    # chunks can't store a provably-unwrapped sum -> decode path
    got = aggregate_encoded(spark, base, "v")
    assert got["chunks_decoded"] == got["chunks_total"] > 0
    assert int(got["sum"]) == sum(big + i for i in range(100))


def test_all_null_chunks(spark, tmp_path):
    base = str(tmp_path / "nulls")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.lit(None).cast("long").alias("v"))
    write_encoded(df.repartition(1), base, n_buckets=1,
                  chunk_max_rows=32)
    got = aggregate_encoded(spark, base, "v")
    assert got == {**got, "rows": 100, "nonnull": 0, "sum": None,
                   "min": None, "max": None}
    assert got["chunks_decoded"] == 0  # all-null chunks ARE meta-known


def test_meta_sum_matches_disk(spark, tmp_path):
    """The stored per-chunk stats themselves are exact: recompute from
    the decoded table grouped the way chunks split."""
    base = str(tmp_path / "disk")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 5 != 0, F.col("id")).alias("v"))
    write_encoded(df.repartition(1), base, n_buckets=1,
                  chunk_max_rows=100)
    import glob

    import pyarrow.parquet as pq
    metas = []
    for f in glob.glob(f"{base}/blocks/col-v/*.parquet"):
        t = pq.read_table(f, columns=["component", "meta", "n_rows"])
        for comp, meta, n in zip(t.column("component").to_pylist(),
                                 t.column("meta").to_pylist(),
                                 t.column("n_rows").to_pylist()):
            if comp == "values":
                metas.append((json.loads(meta), n))
    assert metas
    tot = sum(m.get("sum", 0) for m, _ in metas)
    nulls = sum(m["nulls"] for m, _ in metas)
    want = df.agg(F.sum("v"), F.count(F.lit(1)) - F.count("v")).collect()[0]
    assert tot == want[0]
    assert nulls == want[1]


def test_rejects_unsupported_columns(table):
    spark, base, df = table
    with pytest.raises(ValueError, match="supports int"):
        aggregate_encoded(spark, base, "name")
    with pytest.raises(ValueError, match="not in encoded table"):
        aggregate_encoded(spark, base, "nope")


def test_elements_mode_tokens(spark, tmp_path):
    base = str(tmp_path / "tok")
    df = spark.range(400).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 11 == 0, None).otherwise(
            F.sequence(F.lit(0).cast("int"),
                       (F.col("id") % 9).cast("int"))).alias("tokens"))
    write_encoded(df.repartition(1), base, n_buckets=2,
                  chunk_max_rows=50, cluster_by="k")
    got = aggregate_encoded(spark, base, "tokens", elements=True)
    ex = df.select(F.explode("tokens").alias("e"))
    want = _truth(ex, "e")
    _check(got, want)
    assert got["chunks_decoded"] == 0  # all metadata

    got = aggregate_encoded(spark, base, "tokens", elements=True,
                            range_filter=("k", 30, 333))
    want = _truth(
        df.filter((F.col("k") >= 30) & (F.col("k") <= 333))
        .select(F.explode("tokens").alias("e")), "e")
    _check(got, want)
    assert got["chunks_meta"] > 0 and got["chunks_decoded"] > 0


def test_elements_mode_null_elements(spark, tmp_path):
    base = str(tmp_path / "tokn")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.array(F.col("id").cast("int"),
                F.when(F.col("id") % 3 == 0, None)
                .otherwise(F.col("id") * 2).cast("int")).alias("a"))
    write_encoded(df.repartition(1), base, n_buckets=1,
                  chunk_max_rows=32)
    got = aggregate_encoded(spark, base, "a", elements=True)
    want = _truth(df.select(F.explode("a").alias("e")), "e")
    _check(got, want)


def test_elements_rejects_non_array(table):
    spark, base, df = table
    with pytest.raises(ValueError, match="flat array"):
        aggregate_encoded(spark, base, "v", elements=True)


# ------------------------------------------------------------ grouped
from tokcodec.agg import aggregate_encoded_grouped  # noqa: E402


def _gtruth(df, g, col, pred=None):
    if pred is not None:
        df = df.filter(pred)
    rows = df.groupBy(g).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(col).alias("nonnull"),
        F.sum(col).cast("long").alias("sum"),
        F.min(col).cast("long").alias("min"),
        F.max(col).cast("long").alias("max"),
    ).collect()
    return sorted((tuple(r) for r in rows), key=repr)


@pytest.fixture(scope="module")
def gtable(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("gagg") / "t")
    # 20 groups x 50 rows, day-clustered chunks of 64: most chunks
    # single-group, some straddle two groups
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") / 50).cast("int").alias("day"),
        F.when(F.col("id") % 13 != 0, F.col("id") * 2).cast("long")
        .alias("v"),
    )
    write_encoded(df.repartition(1), base, n_buckets=4,
                  chunk_max_rows=64, cluster_by="day")
    yield spark, base, df
    shutil.rmtree(base, ignore_errors=True)


def test_grouped_matches_spark(gtable):
    spark, base, df = gtable
    st = {}
    got = aggregate_encoded_grouped(spark, base, "day", "v",
                                    stats_out=st)
    assert sorted((tuple(r) for r in got.collect()), key=repr) \
        == _gtruth(df, "day", "v")
    assert st["chunks_meta"] > 0  # interior chunks never decoded


def test_grouped_with_filter(gtable):
    spark, base, df = gtable
    got = aggregate_encoded_grouped(
        spark, base, "day", "v", range_filter=("k", 100, 899))
    want = _gtruth(df, "day", "v",
                   (F.col("k") >= 100) & (F.col("k") <= 899))
    assert sorted((tuple(r) for r in got.collect()), key=repr) == want


def test_grouped_date_column(spark, tmp_path):
    base = str(tmp_path / "gd")
    df = spark.range(600).select(
        F.col("id").alias("k"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   (F.col("id") / 40).cast("int")).alias("day"),
        (F.col("id") % 97).cast("long").alias("v"))
    write_encoded(df.repartition(1), base, n_buckets=2,
                  chunk_max_rows=48, cluster_by="day")
    st = {}
    got = aggregate_encoded_grouped(spark, base, "day", "v",
                                    stats_out=st)
    assert sorted(tuple(str(x) for x in r) for r in got.collect()) \
        == sorted(tuple(str(x) for x in r)
                  for r in _gtruth(df, "day", "v"))
    assert st["chunks_meta"] > 0


def test_grouped_null_groups(spark, tmp_path):
    base = str(tmp_path / "gn")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 != 9, (F.col("id") / 30).cast("int"))
        .alias("day"),
        F.col("id").alias("v"))
    write_encoded(df.repartition(1), base, n_buckets=1,
                  chunk_max_rows=32, cluster_by="day")
    got = aggregate_encoded_grouped(spark, base, "day", "v")
    assert sorted((tuple(r) for r in got.collect()), key=repr) \
        == sorted(_gtruth(df, "day", "v"), key=repr)


def test_grouped_deletes_fallback(gtable, tmp_path):
    spark, base, df = gtable
    dst = str(tmp_path / "gdel")
    shutil.copytree(base, dst)
    delete_encoded(spark, dst, "k", [0, 1, 2, 950])
    st = {}
    got = aggregate_encoded_grouped(spark, dst, "day", "v",
                                    stats_out=st)
    want = _gtruth(read_encoded(spark, dst), "day", "v")
    assert sorted((tuple(r) for r in got.collect()), key=repr) == want
    assert st["path"] == "meta+decode" and st["chunks_meta"] == 0


# ----------------------------------------------------------- quantiles
from tokcodec.agg import quantile_encoded  # noqa: E402


def _qtruth(vals, q):
    import math

    s = sorted(v for v in vals if v is not None)
    if not s:
        return None
    return s[max(1, math.ceil(q * len(s))) - 1]


@pytest.fixture(scope="module")
def qtable(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("qagg") / "t")
    import random

    rng = random.Random(42)
    vals = [rng.randrange(0, 100000) if i % 9 else None
            for i in range(3000)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v long")
    write_encoded(df.repartition(1), base, n_buckets=4,
                  chunk_max_rows=100, cluster_by="v")
    yield spark, base, vals
    shutil.rmtree(base, ignore_errors=True)


def test_quantile_exact_bounded_decode(qtable):
    spark, base, vals = qtable
    st = {}
    got = quantile_encoded(spark, base, "v", [0.01, 0.25, 0.5, 0.9, 1.0],
                           stats_out=st)
    want = [_qtruth(vals, q) for q in (0.01, 0.25, 0.5, 0.9, 1.0)]
    assert got == want
    # v-clustered chunks: the windows decode a fraction of the table
    assert 0 < st["chunks_decoded"] < st["chunks_total"]


def test_quantile_scalar_and_edges(qtable):
    spark, base, vals = qtable
    assert quantile_encoded(spark, base, "v", 0.5) == _qtruth(vals, 0.5)
    assert quantile_encoded(spark, base, "v", 0.0) == _qtruth(vals, 0.0)
    with pytest.raises(ValueError, match="out of"):
        quantile_encoded(spark, base, "v", 1.5)
    with pytest.raises(ValueError, match="not in encoded table"):
        quantile_encoded(spark, base, "nope", 0.5)


def test_quantile_unclustered_still_exact(spark, tmp_path):
    base = str(tmp_path / "qu")
    import random

    rng = random.Random(7)
    vals = [rng.randrange(0, 1000) for _ in range(800)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v long")
    write_encoded(df.repartition(1), base, n_buckets=2,
                  chunk_max_rows=64)  # NOT clustered by v
    for q in (0.1, 0.5, 0.99):
        assert quantile_encoded(spark, base, "v", q) == _qtruth(vals, q)


def test_quantile_all_null_and_deletes(spark, tmp_path):
    base = str(tmp_path / "qn")
    df = spark.range(50).select(
        F.col("id").alias("k"), F.lit(None).cast("long").alias("v"))
    write_encoded(df.repartition(1), base, n_buckets=1)
    assert quantile_encoded(spark, base, "v", 0.5) is None
    base2 = str(tmp_path / "qd")
    df2 = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").alias("v"))
    write_encoded(df2.repartition(1), base2, n_buckets=1,
                  chunk_max_rows=20)
    delete_encoded(spark, base2, "k", list(range(50)))
    st = {}
    got = quantile_encoded(spark, base2, "v", 0.5, stats_out=st)
    # pending deletes: every chunk decodes, with the removal step
    assert st["path"] == "meta+decode"
    assert got == _qtruth(list(range(50, 100)), 0.5)


def test_fuzz_aggregate_and_quantile(spark, tmp_path):
    """Randomized geometries: negatives, nulls, duplicates, clustered
    or not, random chunk sizes and random filter windows — aggregate
    and quantile must equal Spark's own answers every time, in BOTH
    placements of the metadata pass (on the driver, and in one task
    per slice)."""
    import math
    import random

    def _both(fn):
        driver = fn()
        with placed("tasks"):
            tasks = fn()
        assert driver == tasks, (driver, tasks)
        return driver

    rng = random.Random(1234)
    for it in range(4):
        base = str(tmp_path / f"f{it}")
        n = rng.randrange(200, 1200)
        null_every = rng.choice([0, 3, 7])
        span = rng.choice([50, 5000, 10**9])
        offs = rng.choice([0, -span // 2])
        vals = [None if null_every and i % null_every == 0
                else rng.randrange(0, span) + offs for i in range(n)]
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "k long, v long")
        kw = {"cluster_by": "v"} if rng.random() < 0.5 else {}
        write_encoded(df.repartition(1), base,
                      n_buckets=rng.choice([1, 3]),
                      chunk_max_rows=rng.choice([32, 97, 400]), **kw)
        a, b = sorted((rng.randrange(-span, span),
                       rng.randrange(-span, span)))
        got = _both(lambda: aggregate_encoded(
            spark, base, "v", range_filter=("k", 0, n // 2)))
        want = _truth(df, "v", F.col("k") <= n // 2)
        _check(got, want)
        got = _both(lambda: aggregate_encoded(
            spark, base, "v", range_filter=("v", a, b)))
        want = _truth(df, "v", (F.col("v") >= a) & (F.col("v") <= b))
        _check(got, want)
        nn = sorted(v for v in vals if v is not None)
        for q in (rng.random(), 0.5):
            gq = _both(lambda: quantile_encoded(spark, base, "v", q))
            wq = (None if not nn
                  else nn[max(1, math.ceil(q * len(nn))) - 1])
            assert gq == wq, (it, q, gq, wq)


def test_aggregate_time_travel_and_incremental(spark, tmp_path):
    base = str(tmp_path / "tt")
    e0 = spark.range(100).select(F.col("id").alias("k"),
                                 F.col("id").alias("v"))
    e1 = spark.range(100, 300).select(F.col("id").alias("k"),
                                      (F.col("id") * 2).alias("v"))
    write_encoded(e0, base, n_buckets=2, run_id="e0", epoch=0)
    write_encoded(e1, base, n_buckets=2, run_id="e1", epoch=1,
                  resume=True)
    snap = aggregate_encoded(spark, base, "v", as_of_epoch=0)
    assert snap["rows"] == 100 and int(snap["sum"]) == sum(range(100))
    inc = aggregate_encoded(spark, base, "v", since_epoch=0)
    assert inc["rows"] == 200
    assert int(inc["sum"]) == sum(2 * i for i in range(100, 300))
    q0 = quantile_encoded(spark, base, "v", 1.0, as_of_epoch=0)
    assert q0 == 99


def test_aggregate_beside_a_float_column(spark, tmp_path):
    """The metadata pass reads only the int columns an aggregate
    involves: a double column beside them (whose zone bounds are not
    integers) changes nothing."""
    base = str(tmp_path / "fl")
    df = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
        (F.col("id") / 7.0).alias("x"),
        (F.col("id") / 50).cast("int").alias("day"))
    write_encoded(df.repartition(1), base, n_buckets=2, chunk_max_rows=32,
                  cluster_by="k")
    for kw, pred in ((dict(), None),
                     (dict(range_filter=("k", 40, 250)),
                      (F.col("k") >= 40) & (F.col("k") <= 250)),
                     (dict(range_filter=("x", 3.0, 9.5)),
                      (F.col("x") >= 3.0) & (F.col("x") <= 9.5))):
        _check(aggregate_encoded(spark, base, "v", **kw),
               _truth(df, "v", pred))
        got = aggregate_encoded_grouped(spark, base, "day", "v", **kw)
        assert sorted((tuple(r) for r in got.collect()), key=repr) \
            == _gtruth(df, "day", "v", pred)
    assert quantile_encoded(spark, base, "v", 0.5) == 298


def test_aggregate_or_filter(table):
    spark, base, df = table
    slabs = [("k", 0, 99), ("k", 800, 950)]
    got = aggregate_encoded(spark, base, "v", or_filter=slabs)
    want = _truth(df, "v", ((F.col("k") <= 99)
                            | ((F.col("k") >= 800)
                               & (F.col("k") <= 950))))
    _check(got, want)
    assert got["chunks_scanned"] < got["chunks_total"]  # slabs prune
    g = aggregate_encoded_grouped(spark, base, "grp", "v",
                                  or_filter=slabs)
    wantg = _gtruth(df, "grp", "v", ((F.col("k") <= 99)
                                     | ((F.col("k") >= 800)
                                        & (F.col("k") <= 950))))
    assert sorted((tuple(r) for r in g.collect()), key=repr) == wantg


# ----------------------------------------- metadata pass placements
# The metadata pass (tokcodec.scan.chunk_index) runs its slices on the
# driver below the cap and in one task per slice above it. Both
# placements must make the SAME covered/partial decision — telemetry
# included.


def _n_jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_driver_and_task_index_agree(table):
    spark, base, df = table
    cases = [
        dict(),
        dict(range_filter=("k", 100, 899)),
        dict(range_filter=[("k", 0, 499), ("grp", 2, 2)]),
        dict(in_filter=("grp", [3, 5])),
        dict(range_filter=("v", 300, 2400)),
        dict(range_filter=("k", 5000, 6000)),  # empty
    ]
    driver = [aggregate_encoded(spark, base, "v", **kw)
              for kw in cases]
    before = _n_jobs(spark)
    with placed("tasks"):
        for kw, want in zip(cases, driver):
            got = aggregate_encoded(spark, base, "v", **kw)
            assert got == want, (kw, got, want)
    assert _n_jobs(spark) > before  # the task placement actually ran


def test_quantile_placements_agree(qtable):
    spark, base, want_sorted = qtable
    got_c = quantile_encoded(spark, base, "v", [0.1, 0.5, 0.99])
    with placed("tasks"):
        got_d = quantile_encoded(spark, base, "v", [0.1, 0.5, 0.99])
    assert got_c == got_d


def test_quantile_evolved_table_placements_agree(spark, tmp_path):
    """Rows of a run that predates the column are NULL and never rank,
    on both placements: past the driver cap the candidate chunks
    decode through read_encoded, whose plan then holds only the runs
    that carry the column, so no evolution fill is asked for."""
    base = str(tmp_path / "qe")
    write_encoded(spark.range(300).select(F.col("id").alias("k")), base,
                  n_buckets=2, run_id="r0", chunk_max_rows=50)
    write_encoded(spark.range(300, 600).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v")),
        base, n_buckets=2, run_id="r1", epoch=1, resume=True,
        schema_evolution=True, chunk_max_rows=50, cluster_by="v")
    qs = [0.1, 0.5, 0.99]
    want = [_qtruth([i * 7 % 1000 for i in range(300, 600)], q)
            for q in qs]
    assert quantile_encoded(spark, base, "v", qs) == want
    with placed("tasks"):
        assert quantile_encoded(spark, base, "v", qs) == want


def test_meta_cache_invalidated_by_append(spark, tmp_path):
    """An aggregate right after an append sees the appended rows: the
    metadata pass reads the snapshot the lineage commits, never a
    stale one."""
    base = str(tmp_path / "inv")
    e0 = spark.range(100).select(F.col("id").alias("k"),
                                 F.col("id").alias("v"))
    write_encoded(e0, base, n_buckets=2, run_id="e0", epoch=0)
    first = aggregate_encoded(spark, base, "v")
    assert first["rows"] == 100
    e1 = spark.range(100, 250).select(F.col("id").alias("k"),
                                      F.col("id").alias("v"))
    write_encoded(e1, base, n_buckets=2, run_id="e1", epoch=1,
                  resume=True)
    after = aggregate_encoded(spark, base, "v")
    assert after["rows"] == 250
    assert int(after["sum"]) == sum(range(250))
    # and the old snapshot is still answerable via time travel
    snap = aggregate_encoded(spark, base, "v", as_of_epoch=0)
    assert snap == first


def test_grouped_placements_agree(gtable):
    spark, base, df = gtable
    cases = [dict(), dict(range_filter=("k", 50, 720)),
             dict(in_filter=("day", [1, 4]))]
    driver = [sorted((tuple(r) for r in
                      aggregate_encoded_grouped(
                          spark, base, "day", "v", **kw).collect()),
                     key=repr) for kw in cases]
    with placed("tasks"):
        for kw, want in zip(cases, driver):
            got = sorted((tuple(r) for r in
                          aggregate_encoded_grouped(
                              spark, base, "day", "v", **kw).collect()),
                         key=repr)
            assert got == want, (kw, got, want)
