"""Iceberg-style schema evolution (add/drop nullable columns on
append) + as-of-epoch time travel. The reference is file-at-a-time and
re-reads whatever schema each file carries; a multi-run TABLE needs
real evolution: the manifest schema becomes the union, runs written
before a column existed decode as NULL at their run position
(make_decode_fn's fill path), and appends may omit nullable columns.
"""

import os

import pytest
from pyspark.sql import functions as F

from conftest import local_frame, placed
from tokcodec import read_encoded, write_encoded
from tokcodec.io_tables import compact_encoded, read_encoded_direct

pytestmark = pytest.mark.both_placements


def _epoch0(spark, n=400):
    return local_frame(spark.range(n).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.col("id").cast("int").alias("n_tok"),
        F.when(F.col("id") % 2 == 0, "web").otherwise("book").alias("source"),
    ))


def _epoch1(spark, n=300):
    # evolved frame: adds a nullable `lang` column
    return local_frame(spark.range(1000, 1000 + n).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.col("id").cast("int").alias("n_tok"),
        F.lit("crawl").alias("source"),
        F.when(F.col("id") % 3 == 0, "en").otherwise("de").alias("lang"),
    ))


@pytest.fixture(scope="module")
def evolved_tables(spark, tmp_path_factory):
    """The evolved table, built once per placement (tests append to
    it and compact it)."""
    out = {}
    for placement in ("driver", "tasks"):
        path = str(tmp_path_factory.mktemp("evo") / "enc")
        with placed(placement):
            write_encoded(_epoch0(spark), path, n_buckets=4, run_id="r0",
                          epoch=0)
            with pytest.raises(ValueError, match="schema mismatch"):
                write_encoded(_epoch1(spark), path, n_buckets=4,
                              run_id="bad", resume=True, epoch=1)
            write_encoded(_epoch1(spark), path, n_buckets=4, run_id="r1",
                          resume=True, epoch=1, schema_evolution=True)
        out[placement] = path
    return out


@pytest.fixture
def evolved(evolved_tables, placement):
    return evolved_tables[placement]


def test_union_schema_and_fill(spark, evolved):
    dec = read_encoded(spark, evolved)
    assert dec.columns == ["doc_id", "n_tok", "source", "lang"]
    assert dec.count() == 700
    # rows from the pre-evolution run are NULL in the added column
    assert dec.filter(F.col("lang").isNull()).count() == 400
    got = (
        dec.filter(F.col("lang") == "en")
        .agg(F.count("*").alias("n"), F.sum("n_tok").alias("s"))
        .collect()[0]
    )
    want = [i for i in range(1000, 1300) if i % 3 == 0]
    assert (got.n, got.s) == (len(want), sum(want))
    # old columns are intact across both runs
    assert dec.agg(F.sum("n_tok")).collect()[0][0] == \
        sum(range(400)) + sum(range(1000, 1300))


def test_projection_only_new_column(spark, evolved):
    """Projecting ONLY the evolved column must still surface the old
    runs' rows (as nulls) — the metrics-fill keeps buckets visible even
    when every scanned data column is fill."""
    only = read_encoded(spark, evolved, columns=["lang"])
    assert only.columns == ["lang"]
    assert only.count() == 700
    assert only.filter(F.col("lang").isNull()).count() == 400


def test_direct_reader_on_evolved(spark, evolved):
    dec = read_encoded_direct(spark, evolved)
    assert dec.count() == 700
    assert dec.filter(F.col("lang").isNull()).count() == 400
    a = sorted(read_encoded(spark, evolved).collect())
    b = sorted(dec.collect())
    assert a == b


def test_zone_filter_on_old_column(spark, evolved):
    """Zone-pruned read on a pre-evolution column: fill counts anchor
    on the filter column's surviving rows, so pruned-away chunks don't
    misalign the filled column."""
    out = read_encoded(spark, evolved, range_filter=("n_tok", 1000, 1099))
    rows = out.collect()
    assert len(rows) == 100
    assert all(r.lang is not None for r in rows)
    out2 = read_encoded(spark, evolved, range_filter=("n_tok", 0, 49))
    rows2 = out2.collect()
    assert len(rows2) == 50
    assert all(r.lang is None for r in rows2)


def test_filter_on_evolved_column_excludes_old_rows(spark, evolved):
    """Old rows are NULL in the evolved column; an equality filter on
    it must never return them (runs without the column prune away
    entirely, which is exactly NULL-never-matches semantics)."""
    de = read_encoded(spark, evolved).filter(F.col("lang") == "de")
    assert de.count() == 300 - sum(
        1 for i in range(1000, 1300) if i % 3 == 0
    )


def test_append_missing_nullable_column(spark, evolved, tmp_path):
    """After evolution, an append that OMITS the (nullable) new column
    writes nulls for it."""
    extra = _epoch0(spark, 50)
    write_encoded(extra, evolved, n_buckets=4, run_id="r2",
                  resume=True, epoch=2, schema_evolution=True)
    dec = read_encoded(spark, evolved)
    assert dec.count() == 750
    assert dec.filter(F.col("lang").isNull()).count() == 450


def test_incompatible_evolutions_raise(spark, evolved):
    bad_type = spark.range(5).select(
        F.concat(F.lit("x"), F.col("id")).alias("doc_id"),
        F.col("id").alias("n_tok"),  # bigint, table has int
        F.lit("s").alias("source"),
    )
    with pytest.raises(ValueError, match="not additive"):
        write_encoded(bad_type, evolved, n_buckets=4, run_id="bt",
                      resume=True, epoch=9, schema_evolution=True)


def test_read_as_on_evolved(spark, evolved):
    """Schema-on-read works on an evolved table: runs that predate a
    requested column null-fill at their run position, and the
    name-mapping/widening policy applies on top."""
    from pyspark.sql import types as T

    from tokcodec.io_tables import read_encoded_as

    out = read_encoded_as(
        spark, evolved,
        T.StructType([
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("lang", T.StringType(), True),
            T.StructField("n_tok", T.LongType(), False),  # widened
        ]),
        fail_on_missing_column=False,
    )
    # expectations relative to the default reader: earlier tests in
    # this module append more epochs to the shared fixture
    ref = read_encoded(spark, evolved)
    assert out.count() == ref.count()
    assert out.filter(F.col("lang").isNull()).count() == \
        ref.filter(F.col("lang").isNull()).count()
    assert dict(out.dtypes)["n_tok"] == "bigint"
    assert out.agg(F.sum("n_tok")).collect()[0][0] == \
        ref.agg(F.sum("n_tok")).collect()[0][0]


def test_time_travel_as_of_epoch(spark, evolved):
    """Snapshot-schema semantics (r4 verdict #5, Iceberg parity; the
    reference reads the schema each file's footer declares): a column
    added AFTER the target epoch does NOT appear in the historical
    read — each run manifest records its stored schema and the as-of
    read projects the union of the participating runs' schemas."""
    snap0 = read_encoded(spark, evolved, as_of_epoch=0)
    assert snap0.count() == 400
    assert snap0.columns == ["doc_id", "n_tok", "source"]  # no lang
    snap1 = read_encoded(spark, evolved, as_of_epoch=1)
    assert snap1.count() == 700
    assert "lang" in snap1.columns
    d0 = read_encoded_direct(spark, evolved, as_of_epoch=0)
    assert d0.count() == 400
    assert d0.columns == ["doc_id", "n_tok", "source"]
    # requesting (or filtering on) a post-epoch column fails clearly
    with pytest.raises(ValueError, match="as of epoch"):
        read_encoded(spark, evolved, as_of_epoch=0, columns=["lang"])
    with pytest.raises(ValueError, match="as of epoch"):
        read_encoded_direct(spark, evolved, as_of_epoch=0,
                            columns=["lang"])
    with pytest.raises(ValueError, match="as of epoch"):
        read_encoded(spark, evolved, as_of_epoch=0,
                     range_filter=("lang", "a", "z")).collect()


def test_time_travel_legacy_manifest_fallback(spark, evolved, tmp_path):
    """Run manifests written before schema recording (no schema_json)
    fall back to the CURRENT union schema, null-filled — pre-r5
    tables keep reading."""
    import json as _json
    import shutil

    path = str(tmp_path / "legacy")
    shutil.copytree(evolved, path)
    runs_dir = os.path.join(path, "_runs")
    for f in os.listdir(runs_dir):
        if not f.endswith(".json"):
            continue  # Hadoop-FS .crc sidecars
        p = os.path.join(runs_dir, f)
        m = _json.loads(open(p).read())
        m.pop("schema_json", None)
        open(p, "w").write(_json.dumps(m, separators=(",", ":")))
        crc = os.path.join(runs_dir, f".{f}.crc")
        if os.path.exists(crc):
            os.remove(crc)  # stale checksum would fail the read
    snap0 = read_encoded(spark, path, as_of_epoch=0)
    assert snap0.columns == ["doc_id", "n_tok", "source", "lang"]
    assert snap0.filter(F.col("lang").isNull()).count() == 400


def test_compaction_materializes_evolution(spark, evolved):
    """compact_encoded rewrites the union schema into one run: nulls
    materialize, every run now carries every column, and the
    schema-on-read path (read_encoded_as) works again."""
    before = sorted(read_encoded(spark, evolved).collect())
    compact_encoded(spark, evolved, run_id="compacted")
    after = sorted(read_encoded(spark, evolved).collect())
    assert before == after
    from pyspark.sql import types as T

    from tokcodec.io_tables import read_encoded_as

    slim_schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
    ])
    slim = read_encoded_as(spark, evolved, slim_schema,
                           fail_on_missing_column=False)
    assert slim.count() == len(before)
