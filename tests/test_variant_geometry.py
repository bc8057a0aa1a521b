"""Variant + geometry/geography columns through the engine (reference
VariantWriter.java:34-42, GeometryWrite.java, GeographyWrite.java —
round 2 scoped these out; Spark 4.1 has native VariantType /
GeometryType, so they now ride the surrogate-struct path:
variant = struct<value:binary, metadata:binary>, geo =
struct<srid:int32, wkb:binary>, each leaf through the normal
binary/int codec selection)."""

import pytest
from pyspark.sql import functions as F

from conftest import local_frame
from tokcodec import read_encoded, write_encoded

pytestmark = pytest.mark.both_placements


@pytest.fixture(scope="module", autouse=True)
def _geospatial(spark):
    spark.conf.set("spark.sql.geospatial.enabled", "true")


def _variant_df(spark, n=300):
    # heterogeneous JSON shapes + nulls: object, array, scalar, null
    return local_frame(spark.range(n).select(
        F.col("id"),
        F.when(
            F.col("id") % 11 == 0, F.lit(None)
        ).otherwise(
            F.parse_json(
                F.when(F.col("id") % 3 == 0,
                       F.concat(F.lit('{"a": '), F.col("id").cast("string"),
                                F.lit(', "tags": ["x","y"], "nested": '
                                      '{"b": true}}')))
                .when(F.col("id") % 3 == 1,
                      F.concat(F.lit('[1, 2, '), F.col("id").cast("string"),
                               F.lit("]")))
                .otherwise(F.col("id").cast("string"))
            )
        ).alias("v"),
    ))


def test_variant_roundtrip(spark, tmp_path):
    df = _variant_df(spark)
    path = str(tmp_path / "enc")
    write_encoded(df, path, n_buckets=4, run_id="var")
    dec = read_encoded(spark, path)
    assert dict(dec.dtypes)["v"] == "variant"
    a = sorted(df.select("id", F.expr("to_json(v)").alias("j")).collect())
    b = sorted(dec.select("id", F.expr("to_json(v)").alias("j")).collect())
    assert a == b
    # typed extraction works on the DECODED variant
    got = (
        dec.filter(F.col("id") % 3 == 0)
        .filter(F.col("id") % 11 != 0)
        .select(F.expr("variant_get(v, '$.a', 'long')").alias("a"))
        .agg(F.sum("a").alias("s"))
        .collect()[0]["s"]
    )
    want = sum(i for i in range(300) if i % 3 == 0 and i % 11 != 0)
    assert got == want


def test_variant_metadata_dict_codec(spark, tmp_path):
    """Uniform JSON shape -> every row shares one metadata dictionary;
    the dict codec must collapse the metadata component."""
    import json

    df = spark.range(2000).select(
        F.col("id"),
        F.parse_json(
            F.concat(F.lit('{"a": '), F.col("id").cast("string"),
                     F.lit(', "b": "x"}'))
        ).alias("v"),
    )
    path = str(tmp_path / "enc")
    write_encoded(df, path, n_buckets=2, run_id="var")
    import os

    lin = spark.read.parquet(os.path.join(path, "lineage"))
    codecs = [json.loads(r.codecs) for r in lin.select("codecs").collect()]
    # the blocks carry the per-component codec — check the variant
    # metadata component (column-partitioned blocks dir)
    blocks = spark.read.parquet(os.path.join(path, "blocks", "col-v"))
    meta_codec = (
        blocks.filter(F.col("component") == "f:metadata/values")
        .select("codec").distinct().collect()
    )
    assert {r.codec for r in meta_codec} <= {"dict_str", "rle_str"}, (
        meta_codec, codecs,
    )


def test_variant_projection(spark, tmp_path):
    df = _variant_df(spark, 100)
    path = str(tmp_path / "enc")
    write_encoded(df, path, n_buckets=2, run_id="var")
    only_v = read_encoded(spark, path, columns=["v"])
    assert only_v.columns == ["v"]
    assert only_v.filter(F.col("v").isNull()).count() == \
        100 - sum(1 for i in range(100) if i % 11 != 0)


def test_geometry_geography_roundtrip(spark, tmp_path):
    # WKB points with distinct coordinates + nulls, srid 4326
    # (this Spark build registers only the wkb-based ST constructors)
    import struct

    def wkb_point(x, y):
        return b"\x01\x01\x00\x00\x00" + struct.pack("<dd", x, y)

    rows = [
        (i,
         wkb_point(float(i), float(i * 2)) if i % 13 != 0 else None,
         wkb_point(float(i % 90), float(i % 45)))
        for i in range(150)
    ]
    raw = spark.createDataFrame(rows, "id long, gw binary, ggw binary")
    df = raw.select(
        "id",
        F.expr("st_setsrid(st_geomfromwkb(gw), 4326)").alias("geom"),
        F.expr("st_geogfromwkb(ggw)").alias("geog"),
    )
    path = str(tmp_path / "enc")
    write_encoded(df, path, n_buckets=3, run_id="geo")
    dec = read_encoded(spark, path)
    assert dict(dec.dtypes)["geom"] == "geometry(4326)"
    assert dict(dec.dtypes)["geog"] == "geography(4326)"
    cols = [
        "id",
        F.expr("hex(st_asbinary(geom))").alias("gw"),
        F.expr("st_srid(geom)").alias("gs"),
        F.expr("hex(st_asbinary(geog))").alias("ggw"),
    ]
    a = sorted(df.select(*cols).collect())
    b = sorted(dec.select(*cols).collect())
    assert a == b


def test_variant_inside_struct(spark, tmp_path):
    """Variant nested under a struct field (the surrogate path must
    compose with the generic struct recursion)."""
    df = spark.range(80).select(
        F.col("id"),
        F.struct(
            F.col("id").cast("string").alias("k"),
            F.parse_json(
                F.concat(F.lit('{"n": '), F.col("id").cast("string"),
                         F.lit("}"))
            ).alias("payload"),
        ).alias("rec"),
    )
    path = str(tmp_path / "enc")
    write_encoded(df, path, n_buckets=2, run_id="nested")
    dec = read_encoded(spark, path)
    a = sorted(
        df.select("id", F.expr("to_json(rec.payload)").alias("j")).collect()
    )
    b = sorted(
        dec.select("id", F.expr("to_json(rec.payload)").alias("j")).collect()
    )
    assert a == b
