"""Seeded schema fuzz: random nested schemas + random values (nulls at
every level, multi-chunk, multi-bucket) must round-trip exactly — the
reference's record-equality test philosophy (CarpetWriterTest cross-
engine equality) generalized over the type lattice."""

import datetime
import os
import random
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from conftest import local_frame
from tokcodec.io_tables import read_encoded, write_encoded

pytestmark = pytest.mark.both_placements

LEAVES = [
    T.IntegerType(), T.LongType(), T.ShortType(), T.ByteType(),
    T.BooleanType(), T.StringType(), T.DoubleType(), T.FloatType(),
    T.DateType(), T.TimestampType(), T.DecimalType(12, 2),
    T.DecimalType(32, 6), T.BinaryType(),
]


def rand_type(rng: random.Random, depth: int) -> T.DataType:
    if depth < 2 and rng.random() < 0.45:
        kind = rng.choice(["array", "struct", "map", "array_struct"])
        if kind == "array":
            return T.ArrayType(rand_type(rng, depth + 1), rng.random() < 0.5)
        if kind == "struct":
            return T.StructType([
                T.StructField(f"f{i}", rand_type(rng, depth + 1),
                              rng.random() < 0.5)
                for i in range(rng.randint(1, 3))
            ])
        if kind == "map":
            return T.MapType(T.StringType(), rand_type(rng, depth + 1),
                             rng.random() < 0.5)
        return T.ArrayType(
            T.StructType([
                T.StructField("a", rng.choice(LEAVES), rng.random() < 0.5),
                T.StructField("b", rng.choice(LEAVES), rng.random() < 0.5),
            ]),
            rng.random() < 0.5,
        )
    return rng.choice(LEAVES)


def rand_value(rng: random.Random, dt: T.DataType, nullable: bool):
    if nullable and rng.random() < 0.25:
        return None
    if isinstance(dt, T.ArrayType):
        return [rand_value(rng, dt.elementType, dt.containsNull)
                for _ in range(rng.randint(0, 4))]
    if isinstance(dt, T.StructType):
        return tuple(rand_value(rng, f.dataType, f.nullable)
                     for f in dt.fields)
    if isinstance(dt, T.MapType):
        return {f"k{i}": rand_value(rng, dt.valueType, dt.valueContainsNull)
                for i in range(rng.randint(0, 3))}
    if isinstance(dt, T.IntegerType):
        return rng.randint(-2**31, 2**31 - 1)
    if isinstance(dt, T.LongType):
        return rng.randint(-2**63, 2**63 - 1)
    if isinstance(dt, T.ShortType):
        return rng.randint(-2**15, 2**15 - 1)
    if isinstance(dt, T.ByteType):
        return rng.randint(-128, 127)
    if isinstance(dt, T.BooleanType):
        return rng.random() < 0.5
    if isinstance(dt, T.StringType):
        return "".join(rng.choice("abcxyz09 é") for _ in range(rng.randint(0, 12)))
    if isinstance(dt, T.DoubleType):
        return round(rng.uniform(-1e6, 1e6), 6)
    if isinstance(dt, T.FloatType):
        return float(round(rng.uniform(-100, 100), 2))
    if isinstance(dt, T.DateType):
        return datetime.date(2000, 1, 1) + datetime.timedelta(
            days=rng.randint(0, 10000))
    if isinstance(dt, T.TimestampType):
        return datetime.datetime(2020, 1, 1) + datetime.timedelta(
            seconds=rng.randint(0, 10**8), microseconds=rng.randint(0, 999999))
    if isinstance(dt, T.DecimalType):
        digits = rng.randint(0, 10**(dt.precision - dt.scale) - 1)
        frac = rng.randint(0, 10**dt.scale - 1)
        sign = -1 if rng.random() < 0.5 else 1
        return Decimal(f"{sign * digits}.{frac:0{dt.scale}d}")
    if isinstance(dt, T.BinaryType):
        return bytes(rng.randrange(256) for _ in range(rng.randint(0, 16)))
    raise AssertionError(dt)


def _canon(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    return v


def test_fuzzed_schemas_roundtrip(spark, tmp_path):
    for seed in range(8):
        rng = random.Random(1000 + seed)
        n_cols = rng.randint(1, 3)
        schema = T.StructType(
            [T.StructField("doc_id", T.StringType(), False)]
            + [T.StructField(f"c{i}", rand_type(rng, 0), rng.random() < 0.6)
               for i in range(n_cols)]
        )
        n_rows = rng.randint(1, 40)
        rows = []
        for r in range(n_rows):
            vals = [f"d{r:04d}"]
            for f in schema.fields[1:]:
                vals.append(rand_value(rng, f.dataType, f.nullable))
            rows.append(tuple(vals))
        df = local_frame(spark.createDataFrame(rows, schema))
        path = os.path.join(str(tmp_path), f"fz{seed}")
        write_encoded(df, path, n_buckets=2, run_id=f"fz{seed}",
                      chunk_max_rows=7)
        out = read_encoded(spark, path)
        got = {r["doc_id"]: _canon(tuple(r.asDict(recursive=True).values()))
               for r in out.collect()}
        want = {r[0]: _canon(r) for r in
                (tuple(x.asDict(recursive=True).values()) if hasattr(x, "asDict")
                 else x for x in df.collect())}
        assert set(got) == set(want), (seed, schema.simpleString())
        for k in want:
            assert got[k] == want[k], (
                seed, k, schema.simpleString(), got[k], want[k]
            )
        # projection pushdown must agree column-wise with the full read
        pc = schema.fields[1].name
        proj = {r["doc_id"]: _canon(r.asDict(recursive=True)[pc])
                for r in read_encoded(spark, path,
                                      columns=["doc_id", pc]).collect()}
        for k in want:
            assert proj[k] == want[k][1], (seed, k, proj[k], want[k][1])
        # the shuffle-free direct reader must agree on every schema too
        from tokcodec.io_tables import read_encoded_direct

        direct = {r["doc_id"]: _canon(tuple(r.asDict(recursive=True).values()))
                  for r in read_encoded_direct(spark, path).collect()}
        assert direct == got, (seed, schema.simpleString())
