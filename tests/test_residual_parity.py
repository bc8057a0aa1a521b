"""The exact residual runs in Arrow inside the slice scan
(tokcodec.scan._residual), on both placements, in the storage lane the
normalized filters carry. Every filter kind on every lane must return
the rows Spark's own predicate keeps over the unfiltered read: float
IN on -0.0 and 0.0 (pyarrow's is_in tells them apart, Spark does not),
NaN rows under finite bounds, null filter keys, timestamp bounds with
a UTC offset, decimal and date ranges, a UUID lookup, string ranges,
contains over null arrays and null elements, and a two-column OR. A
NaN bound or IN value raises: the zone maps ignore NaN rows, so they
cannot prune such a filter exactly."""

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from tokcodec.agg import aggregate_encoded
from tokcodec.datasource import TokcodecDataSource
from tokcodec.io_tables import read_encoded, write_encoded

pytestmark = pytest.mark.both_placements

_T0 = 1_600_000_000
_PLUS5 = dt.timezone(dt.timedelta(hours=5))
_UUID = "%08x-0000-4000-8000-%012x"


def _source(spark, n=600):
    k = F.col("id")
    nan = F.lit(float("nan"))
    return spark.range(n).select(
        k.cast("int").alias("k"),
        F.format_string("d%04d", k).alias("doc_id"),
        F.when(k % 10 == 0, nan).when(k % 10 == 1, F.lit(-0.0))
        .when(k % 10 == 2, F.lit(0.0)).when(k % 10 == 3, F.lit(None))
        .otherwise((k % 100) / 100.0 - 0.5).alias("x"),
        ((k % 50) / 10.0).cast("float").alias("f32"),
        F.when(k % 4 == 0, F.lit(None)).otherwise(k % 37).cast("int")
        .alias("nk"),
        F.timestamp_seconds(k * 3600 + _T0).alias("t"),
        F.date_add(F.lit("2020-01-01").cast("date"),
                   (k % 400).cast("int")).alias("d"),
        (k / 4).cast("decimal(10,2)").alias("dec"),
        F.format_string(_UUID, k, k * 7).alias("u"),
        F.format_string("s%04d", k).alias("s"),
        F.when(k % 9 == 0, F.lit(None))
        .when(k % 9 == 1, F.array(F.lit(None).cast("int"),
                                  (k % 13).cast("int")))
        .otherwise(F.array((k % 13).cast("int"), (k % 17).cast("int")))
        .alias("arr"),
        F.when(k % 3 == 0, F.array(F.format_string("w%d", k % 5),
                                   F.lit(None).cast("string")))
        .otherwise(F.array(F.format_string("w%d", k % 5))).alias("sarr"),
    )


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("residual") / "t")
    write_encoded(_source(spark), path, n_buckets=3, run_id="r0",
                  cluster_by="k", chunk_max_rows=50, uuid_columns=["u"],
                  bloom_columns=["doc_id", "arr", "sarr", "u"])
    return path


def _ts(day, hour):
    return dt.datetime(2020, 9, day, hour, tzinfo=_PLUS5)


def _at(k):
    """Row k's timestamp, as a +05:00 datetime."""
    return dt.datetime.fromtimestamp(_T0 + 3600 * k, _PLUS5)


CASES = {
    "float_in_zero": ({"in_filter": ("x", [0.0])},
                      lambda: F.col("x").isin(0.0)),
    "float_in_negative_zero": ({"in_filter": ("x", [-0.0, 0.25])},
                               lambda: F.col("x").isin(-0.0, 0.25)),
    "float_range_nan_rows": ({"range_filter": ("x", -0.2, 0.3)},
                             lambda: F.col("x").between(-0.2, 0.3)),
    "float_range_zero": ({"range_filter": ("x", 0.0, 0.0)},
                         lambda: F.col("x").between(0.0, 0.0)),
    "float_range_infinite": (
        {"range_filter": ("x", 0.1, float("inf"))},
        lambda: F.col("x").between(0.1, float("inf"))),
    "float32_in": ({"in_filter": ("f32", [0.5, 0.1])},
                   lambda: F.col("f32").isin(0.5, 0.1)),
    "null_keys_range": ({"range_filter": ("nk", 3, 9)},
                        lambda: F.col("nk").between(3, 9)),
    "null_keys_in": ({"in_filter": ("nk", [5, None, 30])},
                     lambda: F.col("nk").isin(5, None, 30)),
    "timestamp_offset": (
        {"range_filter": ("t", _ts(14, 5), _ts(20, 5))},
        lambda: F.col("t").between(F.lit(_ts(14, 5)), F.lit(_ts(20, 5)))),
    "timestamp_in": (
        {"in_filter": ("t", [_at(50), _ts(16, 1), _at(77)])},
        lambda: F.col("t").isin(_at(50), _ts(16, 1), _at(77))),
    "date_range": (
        {"range_filter": ("d", "2020-02-01", dt.date(2020, 3, 15))},
        lambda: F.col("d").between(F.lit(dt.date(2020, 2, 1)),
                                   F.lit(dt.date(2020, 3, 15)))),
    "decimal_range": (
        {"range_filter": ("dec", Decimal("10.005"), Decimal("40.25"))},
        lambda: F.col("dec").between(F.lit(Decimal("10.005")),
                                     F.lit(Decimal("40.25")))),
    "decimal_in": (
        {"in_filter": ("dec", [Decimal("10.25"), Decimal("10.255"), 3])},
        lambda: F.col("dec").isin(Decimal("10.25"), Decimal("10.255"),
                                  Decimal(3))),
    "uuid_eq": ({"eq_filter": ("u", (_UUID % (42, 294)).upper())},
                lambda: F.col("u") == _UUID % (42, 294)),
    "string_range": ({"range_filter": ("s", "s0100", "s0250")},
                     lambda: F.col("s").between("s0100", "s0250")),
    "string_in": ({"in_filter": ("s", ["s0007", "nope", "s0599"])},
                  lambda: F.col("s").isin("s0007", "nope", "s0599")),
    "eq_list": ({"eq_filter": ("doc_id", ["d0003", "d0404", "zzz"])},
                lambda: F.col("doc_id").isin("d0003", "d0404", "zzz")),
    "contains_one": ({"contains_filter": ("arr", 5)},
                     lambda: F.array_contains("arr", 5)),
    "contains_list": ({"contains_filter": ("arr", [5, 12])},
                      lambda: F.arrays_overlap(
                          "arr", F.array(F.lit(5), F.lit(12)))),
    "contains_string": ({"contains_filter": ("sarr", ["w3", "nope"])},
                        lambda: F.arrays_overlap(
                            "sarr", F.array(F.lit("w3"), F.lit("nope")))),
    "or_two_columns": (
        {"or_filter": [("k", 0, 40), ("x", 0.1, 0.2)]},
        lambda: F.col("k").between(0, 40) | F.col("x").between(0.1, 0.2)),
    "conjunction": (
        {"range_filter": ("k", 100, 400), "contains_filter": ("arr", 3),
         "in_filter": ("x", [0.0, 0.3])},
        lambda: F.col("k").between(100, 400) & F.array_contains("arr", 3)
        & F.col("x").isin(0.0, 0.3)),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_residual_matches_spark(spark, table, case):
    kw, pred = CASES[case]
    got = sorted(r.k for r in read_encoded(spark, table, **kw)
                 .select("k").collect())
    want = sorted(r.k for r in read_encoded(spark, table)
                  .filter(pred()).select("k").collect())
    assert got == want, case
    assert 0 < len(want) < 600, (case, len(want))


def test_residual_rows_keep_their_values(spark, table):
    """The filtered read returns whole rows, UUIDs re-expanded."""
    got = read_encoded(spark, table,
                       eq_filter=("u", (_UUID % (42, 294)).upper()))
    rows = got.collect()
    assert [(r.k, r.u, r.doc_id) for r in rows] == [
        (42, _UUID % (42, 294), "d0042")]


def _nan_table(spark, path):
    df = spark.createDataFrame(
        [(i, float("nan") if i < 10 else (-0.0 if i < 20 else 0.5))
         for i in range(30)], "k int, x double")
    write_encoded(df, path, n_buckets=1, run_id="r0")
    return df


def test_nan_filter_values_raise(spark, tmp_path):
    """A NaN bound or IN value fails loudly on every filtered entry
    point: Spark's isin([nan]) keeps the 10 NaN rows and x BETWEEN 0.0
    AND nan keeps all 30, while a zone pruner comparing against NaN
    drops every chunk."""
    nan = float("nan")
    path = str(tmp_path / "nan")
    df = _nan_table(spark, path)
    assert df.filter(F.col("x").isin(nan)).count() == 10
    assert df.filter(F.col("x").between(0.0, nan)).count() == 30
    for kw in ({"in_filter": ("x", [nan])},
               {"in_filter": ("x", [0.5, nan])},
               {"range_filter": ("x", 0.0, nan)},
               {"range_filter": ("x", nan, 1.0)},
               {"or_filter": [("k", 0, 3), ("x", nan, nan)]}):
        with pytest.raises(ValueError, match="NaN"):
            read_encoded(spark, path, **kw)
        with pytest.raises(ValueError, match="NaN"):
            aggregate_encoded(spark, path, "k", **kw)


def test_nan_and_one_sided_float_filters_through_the_source(spark,
                                                             tmp_path):
    """The DataSource makes no prune spec of a NaN filter, nor of a
    float filter with no upper bound (Spark's x >= lo keeps NaN rows),
    so Spark's answer comes back whole."""
    nan = float("nan")
    path = str(tmp_path / "nan_source")
    _nan_table(spark, path)
    spark.dataSource.register(TokcodecDataSource)
    src = spark.read.format("tokcodec").option("pushdown", "true") \
        .load(path)
    assert src.filter(F.col("x").isin(nan)).count() == 10
    assert src.filter((F.col("x") >= 0.0) & (F.col("x") <= nan)) \
        .count() == 30
    assert src.filter(F.col("x") >= 0.0).count() == 30
    assert src.filter(F.col("x") > 0.1).count() == 20
    assert src.filter(F.col("x") <= 0.1).count() == 10
    assert src.filter(F.col("x") == 0.0).count() == 10
