"""scan_frame's two placements (tokcodec.scan): a read whose decoded
size is bounded at or under io_tables._DRIVER_MAX_BYTES is scanned on
the driver and returned as spark.createDataFrame(table); any other read
runs one mapInArrow task per slice. Both must return the same frame
for every decoded type and every read option, and the driver frame
must hold no Python node."""

import datetime as dt
import struct
import uuid as uuidlib
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.testing import assertDataFrameEqual

from tokcodec import io_tables, scan
from tokcodec.io_tables import (
    read_encoded,
    read_encoded_as,
    sample_encoded,
    write_encoded,
)

KEY = bytes(range(32))

TYPES = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("arr", T.ArrayType(T.IntegerType(), True), True),
    T.StructField("m", T.MapType(T.StringType(), T.IntegerType(), True),
                  True),
    T.StructField("st", T.StructType([
        T.StructField("a", T.IntegerType(), True),
        T.StructField("b", T.StringType(), True),
        T.StructField("c", T.ArrayType(T.StringType(), True), True),
    ]), True),
    T.StructField("dec", T.DecimalType(38, 10), True),
    T.StructField("dec_s", T.DecimalType(10, 2), True),
    T.StructField("id", T.StringType(), True),
    T.StructField("t", T.TimeType(), True),
    T.StructField("ntz", T.TimestampNTZType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("d", T.DateType(), True),
    T.StructField("bin", T.BinaryType(), True),
    T.StructField("f", T.DoubleType(), True),
    T.StructField("ok", T.BooleanType(), True),
])

PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInArrow",
                "FlatMapGroupsInPandas", "PythonUDF")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _placed(monkeypatch, build):
    """(driver frame, task frame) of one read: ``build`` runs once with
    the cap as it is and once with the task placement forced."""
    drv = build()
    with monkeypatch.context() as m:
        m.setattr(io_tables, "_DRIVER_MAX_BYTES", 0)
        tsk = build()
    plan = _plan(drv)
    assert not any(n in plan for n in PYTHON_NODES), plan
    assert "MapInArrow" in _plan(tsk)
    return drv, tsk


def _assert_same(monkeypatch, build):
    drv, tsk = _placed(monkeypatch, build)
    assert drv.schema == tsk.schema
    assertDataFrameEqual(drv, tsk)
    return drv


def _type_rows(n=120):
    rows = []
    for i in range(n):
        z = i % 7 == 0  # a null in every nullable column
        rows.append((
            f"d{i:04d}",
            None if z else [i, None, -i],
            None if z else {f"k{i}": i, "z": None},
            None if z else (i, f"s{i}", [f"x{i}", None]),
            None if z else Decimal(i) * Decimal("1234567.0123456789"),
            None if z else Decimal(i) / Decimal(4),
            None if z else str(uuidlib.UUID(int=i * 0x1337C0DE + 7)),
            None if z else dt.time(i % 24, i % 60, i % 60, i * 7),
            None if z else dt.datetime(2020, 1, 1) + dt.timedelta(
                hours=i, microseconds=i),
            None if z else dt.datetime(2021, 6, 1, tzinfo=dt.timezone.utc)
            + dt.timedelta(minutes=i),
            None if z else dt.date(2000, 1, 1) + dt.timedelta(days=i),
            None if z else bytes([i % 256, 0, 255]) * (i % 5),
            None if z else i / 8.0,
            None if z else i % 2 == 0,
        ))
    return rows


@pytest.fixture(scope="module")
def typed(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("placement_types")
    path = str(root / "types")
    write_encoded(spark.createDataFrame(_type_rows(), TYPES), path,
                  n_buckets=4, run_id="t", chunk_max_rows=16,
                  uuid_columns=["id"], bloom_columns=["doc_id"])
    spark.conf.set("spark.sql.geospatial.enabled", "true")
    geo = str(root / "geo")

    def wkb_point(x, y):
        return b"\x01\x01\x00\x00\x00" + struct.pack("<dd", x, y)

    raw = spark.createDataFrame(
        [(i, wkb_point(float(i), float(-i)) if i % 9 else None)
         for i in range(90)], "id long, gw binary")
    write_encoded(raw.select(
        "id",
        F.when(F.col("id") % 5 == 0, F.lit(None)).otherwise(F.parse_json(
            F.concat(F.lit('{"a": '), F.col("id").cast("string"),
                     F.lit(', "t": ["x", "y"]}')))).alias("v"),
        F.expr("st_setsrid(st_geomfromwkb(gw), 4326)").alias("geom"),
        F.expr("st_geogfromwkb(gw)").alias("geog"),
    ), geo, n_buckets=3, run_id="g")
    return path, geo


def test_every_decoded_type_same_on_both_placements(spark, typed,
                                                    monkeypatch):
    path, _geo = typed
    drv = _assert_same(monkeypatch, lambda: read_encoded(spark, path))
    assert drv.count() == 120
    assert drv.schema["t"].dataType == T.TimeType()
    # a lookup by UUID text and one by a bloom key, both placements
    u = str(uuidlib.UUID(int=5 * 0x1337C0DE + 7))
    _assert_same(monkeypatch, lambda: read_encoded(
        spark, path, eq_filter=("id", u)))
    _assert_same(monkeypatch, lambda: read_encoded(
        spark, path, eq_filter=("doc_id", ["d0005", "d0077", "nope"])))


def test_variant_and_geometry_stay_on_the_task_placement(spark, typed,
                                                         monkeypatch):
    """A null variant, geometry or geography value fails
    createDataFrame(arrow)'s cast, so a read of such a column (nested
    too) keeps its mapInArrow tasks on both placements; projecting
    them away puts the read back on the driver."""
    _path, geo = typed
    drv = read_encoded(spark, geo)
    with monkeypatch.context() as m:
        m.setattr(io_tables, "_DRIVER_MAX_BYTES", 0)
        tsk = read_encoded(spark, geo)
    assert "MapInArrow" in _plan(drv) and "MapInArrow" in _plan(tsk)
    assert drv.schema == tsk.schema
    assert dict(drv.dtypes)["v"] == "variant"
    assert dict(drv.dtypes)["geom"] == "geometry(4326)"

    def norm(df):  # variant and geometry values have no equality
        return df.select(
            "id", F.expr("to_json(v)").alias("v"),
            F.expr("hex(st_asbinary(geom))").alias("geom"),
            F.expr("st_srid(geom)").alias("srid"),
            F.expr("hex(st_asbinary(geog))").alias("geog"))

    assertDataFrameEqual(norm(drv), norm(tsk))
    assert norm(drv).filter("v is null").count() == 18
    for c in ("v", "geom", "geog"):
        assert not scan._crosses_arrow(T.StructType([drv.schema[c]]))
    _assert_same(monkeypatch, lambda: read_encoded(spark, geo,
                                                   columns=["id"]))


def test_structs_with_non_nullable_fields_stay_on_the_task_placement(
        spark, tmp_path, monkeypatch):
    """A struct with a non-nullable field, at any depth, cannot cross
    createDataFrame(arrow) once a parent is null (or once the decoded
    struct declares the field nullable): such reads keep their tasks
    and return the same rows; structs of nullable fields and top-level
    non-nullable columns go to the driver."""
    def st(nullable):
        return T.StructType([T.StructField("a", T.IntegerType(), nullable)])

    for dt, crosses in [
            (T.IntegerType(), True), (st(True), True), (st(False), False),
            (T.ArrayType(st(False)), False),
            (T.MapType(T.StringType(), T.ArrayType(st(False))), False),
            (T.MapType(T.StringType(), st(True)), True),
            (T.StructType([T.StructField("v", T.VariantType())]), False)]:
        schema = T.StructType([T.StructField("c", dt, False)])
        assert scan._crosses_arrow(schema) is crosses, dt
    path = str(tmp_path / "st")
    df = spark.range(200).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, F.lit(None))
        .otherwise(F.struct(F.col("id").alias("k"))).alias("s"),
        F.struct(F.col("id").cast("string").alias("n")).alias("n"))
    assert not df.schema["s"].dataType.fields[0].nullable
    write_encoded(df, path, n_buckets=2, run_id="s")
    drv = read_encoded(spark, path)
    assert "MapInArrow" in _plan(drv)
    assertDataFrameEqual(drv, df)
    _assert_same(monkeypatch, lambda: read_encoded(spark, path,
                                                   columns=["id"]))


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """``plain``: two runs at epochs 0 and 1 with blooms; ``evo``: the
    same, the second run adding column ``extra`` (evolution fill);
    ``enc``: two encrypted columns."""
    root = tmp_path_factory.mktemp("placement_opts")
    src = spark.range(2000).select(
        F.format_string("d%05d", F.col("id")).alias("doc_id"),
        F.col("id").cast("int").alias("k"),
        (F.col("id") % 97).cast("int").alias("v"),
        (F.col("id") / F.lit(2000.0)).alias("f"),
        F.array(F.col("id").cast("int"),
                (F.col("id") * 3).cast("int")).alias("tokens"))
    kw = dict(n_buckets=4, cluster_by="k", chunk_max_rows=100,
              bloom_columns=["doc_id", "tokens"])
    out = {n: str(root / n) for n in ("plain", "evo", "enc")}
    for name in ("plain", "evo"):
        write_encoded(src.filter("k < 1500"), out[name], run_id="a",
                      epoch=0, **kw)
    write_encoded(src.filter("k >= 1500"), out["plain"], run_id="b",
                  epoch=1, **kw)
    write_encoded(src.filter("k >= 1500").withColumn(
        "extra", F.col("k") * 2), out["evo"], run_id="b", epoch=1,
        schema_evolution=True, **kw)
    write_encoded(src, out["enc"], run_id="e", encryption_key=KEY,
                  encrypted_columns=["k", "doc_id"], **kw)
    return out


FILTERS = {
    "int_range": {"range_filter": ("k", 100, 450)},
    "float_range": {"range_filter": ("f", 0.25, 0.4)},
    "string_range": {"range_filter": ("doc_id", "d01000", "d01299")},
    "in": {"in_filter": ("k", [5, 777, 1900])},
    "eq": {"eq_filter": ("doc_id", ["d00042", "d01999", "nope"])},
    "contains": {"contains_filter": ("tokens", [1500, 3003, 10 ** 7])},
    "or": {"or_filter": [("k", 0, 150), ("f", 0.9, 1.0)]},
}

OPTIONS = {
    "unfiltered": lambda s, t: read_encoded(s, t["plain"]),
    "projected": lambda s, t: read_encoded(s, t["plain"],
                                           columns=["tokens", "v"]),
    "bucket_column": lambda s, t: read_encoded(
        s, t["plain"], with_bucket_column=True,
        range_filter=("k", 0, 700)),
    "buckets": lambda s, t: read_encoded(s, t["plain"], buckets=[1, 3]),
    "read_as": lambda s, t: read_encoded_as(s, t["plain"], T.StructType([
        T.StructField("docId", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("k", T.ShortType()),
        T.StructField("absent", T.IntegerType())]),
        fail_on_missing_column=False),
    "sample": lambda s, t: sample_encoded(s, t["plain"], 0.4, seed=5),
    "sample_filtered": lambda s, t: sample_encoded(
        s, t["plain"], 0.6, seed=2, range_filter=("k", 0, 1800)),
    "chunk_subset": lambda s, t: read_encoded(
        s, t["plain"], columns=["k"],
        _chunk_subset=[("a", 0, 0), ("a", 2, 1), ("b", 3, 0)]),
    "as_of_epoch": lambda s, t: read_encoded(s, t["evo"], as_of_epoch=0),
    "since_epoch": lambda s, t: read_encoded(s, t["plain"], since_epoch=0),
    "verify_checksums": lambda s, t: read_encoded(
        s, t["plain"], verify_checksums=True),
    "evolution_fill": lambda s, t: read_encoded(s, t["evo"]),
    "evolution_fill_filtered": lambda s, t: read_encoded(
        s, t["evo"], range_filter=("k", 1400, 1600)),
    "encrypted": lambda s, t: read_encoded(s, t["enc"],
                                           encryption_key=KEY),
    "encrypted_filtered": lambda s, t: read_encoded(
        s, t["enc"], encryption_key=KEY, range_filter=("k", 100, 450),
        eq_filter=("doc_id", ["d00120", "d00900"])),
}


@pytest.mark.parametrize("case", sorted(FILTERS))
def test_filters_same_on_both_placements(spark, tables, monkeypatch, case):
    drv = _assert_same(monkeypatch, lambda: read_encoded(
        spark, tables["plain"], **FILTERS[case]))
    assert 0 < drv.count() < 2000


@pytest.mark.parametrize("case", sorted(OPTIONS))
def test_options_same_on_both_placements(spark, tables, monkeypatch, case):
    drv = _assert_same(monkeypatch, lambda: OPTIONS[case](spark, tables))
    assert drv.count() > 0


def test_large_key_lists_same_on_both_placements(spark, tables,
                                                 monkeypatch):
    """10k-key eq_filter and 10k-token contains_filter lists: every key
    is probed against every bloom, on the driver below the cap."""
    keys = [f"d{i:05d}" for i in range(0, 20000, 2)]  # half present
    drv = _assert_same(monkeypatch, lambda: read_encoded(
        spark, tables["plain"], eq_filter=("doc_id", keys)))
    assert drv.count() == 1000
    toks = list(range(10 ** 6, 10 ** 6 + 9990)) + [3, 4, 5, 6, 7, 3000,
                                                    4500, 5997, 1999, 12]
    drv = _assert_same(monkeypatch, lambda: read_encoded(
        spark, tables["plain"], columns=["doc_id"],
        contains_filter=("tokens", toks)))
    hit = set(toks)  # row i holds tokens [i, 3 * i]
    assert drv.count() == sum(i in hit or 3 * i in hit for i in range(2000))
