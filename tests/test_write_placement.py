"""_write_run's two placements (tokcodec.io_tables): a write whose
input is a local relation of at most _DRIVER_MAX_BYTES in Arrow form
is encoded on the driver, one bucket slice after another; any other
write runs repartitionById + mapInArrow, one task per slice. Both must give
the same lineage rows, the same files per column with the same bucket
ranges, and the same decoded rows."""

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql import functions as F
from pyspark.testing import assertDataFrameEqual

from conftest import local_frame, placed
from test_scan_placement import TYPES, _type_rows
from tokcodec import io_tables
from tokcodec.encode import METRICS_COLUMN
from tokcodec.io_tables import _lineage_local, read_encoded, write_encoded
from tokcodec.schema import SEQ_SCHEMA
from tokcodec.synth import synth_arrow

PYTHON_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsIn", "PythonUDF")
LINEAGE = ["n_rows", "orig_bytes", "enc_bytes", "checksum", "codecs"]


class _Spy:
    """Records the write's calls of the task path's DataFrame methods,
    and the name and executed plan of every query it collects."""

    def __init__(self, monkeypatch):
        self.calls: list[str] = []
        self.queries: list[str] = []
        self.plans: list[str] = []
        for name in ("repartitionById", "mapInArrow"):
            monkeypatch.setattr(ClassicDataFrame, name,
                                self._wrap(name, False))
        for name in ("collect", "toArrow"):
            monkeypatch.setattr(ClassicDataFrame, name,
                                self._wrap(name, True))

    def _wrap(self, name, query):
        real = getattr(ClassicDataFrame, name)

        def spy(df, *a, **kw):
            if query:
                self.queries.append(name)
                self.plans.append(
                    df._jdf.queryExecution().executedPlan().toString())
            else:
                self.calls.append(name)
            return real(df, *a, **kw)

        return spy

    @property
    def driver(self) -> bool:
        plans = "\n".join(self.plans)
        return (not self.calls and "Exchange" not in plans
                and not any(n in plans for n in PYTHON_NODES))


def _rows(n, lo=0):
    return [Row(doc_id=f"d{i:05d}", k=i, tokens=[i, i + 1])
            for i in range(lo, lo + n)]


DDL = "doc_id string, k int, tokens array<int>"


def _files(path, run_id) -> dict:
    """{column: sorted [(file name, bucket ranges)]} of one run."""
    with open(os.path.join(path, "_runs", f"{run_id}.json")) as f:
        files = json.load(f)["files"]
    out: dict = {}
    for f in files:
        out.setdefault(f["column"], []).append(
            (os.path.basename(f["path"]), f["bucket_ranges"]))
    return {c: sorted(v) for c, v in out.items()}


def _lineage(path) -> dict:
    lin = _lineage_local(path)
    return {(int(e), int(b)): tuple(r)
            for e, b, *r in lin[["epoch", "bucket", *LINEAGE]].itertuples(
                index=False)}


def test_small_local_append_runs_no_task_wave(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "t")
    write_encoded(spark.createDataFrame(_rows(300), DDL), path, n_buckets=8,
                  bloom_columns=["doc_id"])
    spy = _Spy(monkeypatch)
    write_encoded(local_frame(spark.createDataFrame(_rows(200, lo=300),
                                                    DDL)),
                  path, n_buckets=8, epoch=1)
    assert spy.driver, (spy.calls, spy.plans)
    assert any("LocalTableScan" in p for p in spy.plans), spy.plans
    assert read_encoded(spark, path).count() == 500


@pytest.mark.parametrize("kind", ["cached", "over_cap", "rdd"])
def test_other_inputs_keep_the_task_wave(spark, tmp_path, monkeypatch,
                                         kind):
    """A cached input, an over-cap local relation and a frame made from
    a Python list (an RDD scan) take repartitionById + mapInArrow. The
    over-cap relation's row count alone rules it out, so it is never
    collected to the driver."""
    df = local_frame(spark.createDataFrame(_rows(400), DDL))
    if kind == "cached":
        df = df.cache()
    elif kind == "over_cap":
        monkeypatch.setattr(io_tables, "_DRIVER_MAX_BYTES", 1000)
    else:
        df = spark.createDataFrame(_rows(400), DDL)
    spy = _Spy(monkeypatch)
    write_encoded(df, str(tmp_path / "t"), n_buckets=8)
    assert spy.calls == ["repartitionById", "mapInArrow"], spy.calls
    assert any("Exchange" in p and "MapInArrow" in p for p in spy.plans)
    assert "toArrow" not in spy.queries, spy.queries
    if kind == "cached":
        df.unpersist()


def test_arrow_row_bound_is_below_every_types_arrow_size(spark):
    """_driver_input skips the collect when rows x
    _arrow_row_min_bytes exceeds the cap, so the bound must never
    exceed the real Arrow size: checked on every stored type (with
    nulls), a boolean-only frame and an empty one."""
    frames = [local_frame(spark.createDataFrame(_type_rows(), TYPES)),
              local_frame(spark.createDataFrame(_rows(300), DDL)),
              local_frame(spark.range(50).selectExpr("id % 2 = 0 as b")),
              local_frame(spark.createDataFrame([], DDL))]
    for df in frames:
        rows = df._jdf.queryExecution().optimizedPlan().data().size()
        bound = rows * io_tables._arrow_row_min_bytes(df.schema)
        assert bound <= df.toArrow().nbytes, df.schema.simpleString()
    assert io_tables._arrow_row_min_bytes(TYPES) > 0


@pytest.mark.task_placement
def test_task_placement_marker_forces_the_task_wave(spark, tmp_path,
                                                    monkeypatch):
    spy = _Spy(monkeypatch)
    write_encoded(local_frame(spark.createDataFrame(_rows(400), DDL)),
                  str(tmp_path / "t"), n_buckets=8)
    assert spy.calls == ["repartitionById", "mapInArrow"], spy.calls


def test_driver_write_names_one_file_per_slice(spark, tmp_path,
                                               monkeypatch):
    """16 buckets on local[8]: the driver writes 8 distinct files per
    data column, each one contiguous 2-bucket range — the files the
    tasks write, down to their names."""
    assert spark.sparkContext.defaultParallelism == 8
    df = local_frame(spark.createDataFrame(_rows(2000), DDL))
    drv, tsk = str(tmp_path / "drv"), str(tmp_path / "tsk")
    spy = _Spy(monkeypatch)
    write_encoded(df, drv, n_buckets=16, run_id="r1")
    assert spy.driver
    with placed("tasks"):
        write_encoded(df, tsk, n_buckets=16, run_id="r1")
    got, want = _files(drv, "r1"), _files(tsk, "r1")
    assert sorted(got) == sorted(["doc_id", "k", "tokens", METRICS_COLUMN])
    for col, files in got.items():
        names = [n for n, _r in files]
        assert len(set(names)) == len(names) == 8, (col, names)
        assert sorted(r for _n, r in files) == \
            [[[2 * i, 2 * i + 1]] for i in range(8)]
        # one attempt per slice on the driver; the tasks' names carry
        # their attempt ids
        strip = [(n.split("-a")[0], r) for n, r in want[col]]
        assert [(n.split("-a")[0], r) for n, r in files] == strip
    assert _lineage(drv) == _lineage(tsk)


def _seq_input(spark, seed, n_tok):
    """A perfbench-shaped append: synth rows up to ``n_tok`` tokens,
    with doc ids unique to the seed, as spark.createDataFrame(arrow)."""
    import numpy as np
    import pyarrow.compute as pc

    tbl = synth_arrow(n_tok // 50, seed=seed)
    cum = np.cumsum(tbl.column("n_tok").to_numpy())
    tbl = tbl.slice(0, max(1, int(np.searchsorted(cum, n_tok, "right"))))
    tbl = tbl.set_column(0, "doc_id", pc.binary_join_element_wise(
        f"a{seed}", tbl.column("doc_id"), "-"))
    return spark.createDataFrame(tbl, schema=SEQ_SCHEMA)


def test_seeded_appends_same_on_both_placements(spark, tmp_path,
                                                monkeypatch):
    """The same seeded appends onto the same table give identical
    lineage rows per (epoch, bucket), the same files and bucket ranges
    per column, and the same decoded rows on both placements."""
    base = _seq_input(spark, 1, 60_000).cache()
    appends = [_seq_input(spark, s, 20_000) for s in (2, 3, 4)]
    paths = {}
    for placement in ("driver", "tasks"):
        path = paths[placement] = str(tmp_path / placement)
        write_encoded(base, path, n_buckets=16, run_id="base",
                      bloom_columns=["doc_id", "tokens"])
        for epoch, adf in enumerate(appends, 1):
            spy = _Spy(monkeypatch)
            if placement == "tasks":
                with placed("tasks"):
                    write_encoded(adf, path, n_buckets=16, epoch=epoch,
                                  run_id=f"a{epoch}")
            else:
                write_encoded(adf, path, n_buckets=16, epoch=epoch,
                              run_id=f"a{epoch}")
            assert spy.driver is (placement == "driver"), spy.calls
            monkeypatch.undo()
    base.unpersist()
    drv, tsk = paths["driver"], paths["tasks"]
    assert len(_lineage(drv)) == 64
    assert _lineage(drv) == _lineage(tsk)
    for rid in ("a1", "a2", "a3"):
        strip = {c: [(n.split("-a")[0], r) for n, r in fs]
                 for c, fs in _files(tsk, rid).items()}
        assert {c: [(n.split("-a")[0], r) for n, r in fs]
                for c, fs in _files(drv, rid).items()} == strip
    assertDataFrameEqual(read_encoded(spark, drv), read_encoded(spark, tsk))


def test_every_type_same_on_both_placements(spark, tmp_path, monkeypatch):
    """Every stored type (uuid, decimal, time, timestamps, nested,
    maps, binary) written from a local relation: the driver placement
    gives the task placement's lineage rows and decoded rows."""
    df = local_frame(spark.createDataFrame(_type_rows(), TYPES))
    kw = dict(n_buckets=4, chunk_max_rows=16, uuid_columns=["id"],
              bloom_columns=["doc_id"])
    drv, tsk = str(tmp_path / "drv"), str(tmp_path / "tsk")
    spy = _Spy(monkeypatch)
    write_encoded(df, drv, run_id="t", **kw)
    assert spy.driver, spy.calls
    monkeypatch.undo()
    with placed("tasks"):
        write_encoded(df, tsk, run_id="t", **kw)
    assert _lineage(drv) == _lineage(tsk)
    assertDataFrameEqual(read_encoded(spark, drv), read_encoded(spark, tsk))


def test_variant_and_geometry_writes_stay_on_the_tasks(spark, tmp_path,
                                                       monkeypatch):
    """A local relation with variant, geometry or geography columns
    cannot cross toArrow() (a null variant fails its cast), so its
    write keeps the task placement (io_tables._crosses_arrow) and
    still round-trips."""
    import struct

    spark.conf.set("spark.sql.geospatial.enabled", "true")

    def wkb_point(x, y):
        return b"\x01\x01\x00\x00\x00" + struct.pack("<dd", x, y)

    raw = spark.createDataFrame(
        [(i, wkb_point(float(i), float(-i)) if i % 9 else None)
         for i in range(90)], "id long, gw binary")
    df = local_frame(raw.select(
        "id",
        F.when(F.col("id") % 5 == 0, F.lit(None)).otherwise(F.parse_json(
            F.concat(F.lit('{"a": '), F.col("id").cast("string"),
                     F.lit(', "t": ["x", "y"]}')))).alias("v"),
        F.expr("st_setsrid(st_geomfromwkb(gw), 4326)").alias("geom"),
        F.expr("st_geogfromwkb(gw)").alias("geog"),
    ))
    path = str(tmp_path / "g")
    spy = _Spy(monkeypatch)
    write_encoded(df, path, n_buckets=3, run_id="g")
    assert spy.calls == ["repartitionById", "mapInArrow"], spy.calls
    monkeypatch.undo()
    cols = ["id", F.to_json("v").alias("v"),
            F.expr("st_asbinary(geom) g1"), F.expr("st_asbinary(geog) g2")]
    assertDataFrameEqual(read_encoded(spark, path).select(*cols),
                         df.select(*cols))
