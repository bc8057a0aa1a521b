"""tokcodec as a registered Spark Python DataSource (Spark 4 API):
spark.read.format("tokcodec") batch reads with optional WHERE-filter
chunk pruning, and spark.readStream epoch-tailing CDC — the
reference's 'reads like any table format' promise through Spark's own
source integration (CarpetReader's parquet DataSource analogue)."""

import pytest
from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

from tokcodec.datasource import TokcodecDataSource, _filter_specs
from tokcodec.io_tables import delete_encoded, write_encoded

SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("n_tok", T.IntegerType(), False),
    T.StructField("source", T.StringType(), False),
])


def _mk(spark, n, prefix="d"):
    return spark.createDataFrame(
        [Row(doc_id=f"{prefix}{i}", tokens=[i, i + 1], n_tok=2,
             source=f"s{i % 3}") for i in range(n)],
        SCHEMA,
    )


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    spark.dataSource.register(TokcodecDataSource)
    path = str(tmp_path_factory.mktemp("ds") / "tbl")
    write_encoded(_mk(spark, 300), path, n_buckets=4, run_id="e0",
                  epoch=0, bloom_columns=["doc_id"])
    return path


def test_batch_read_and_sql(spark, table):
    out = spark.read.format("tokcodec").load(table)
    assert out.count() == 300
    assert set(out.columns) == {"doc_id", "tokens", "n_tok", "source"}
    out.createOrReplaceTempView("ds_tbl")
    n = spark.sql(
        "SELECT count(*) AS n FROM ds_tbl WHERE source = 's1'"
    ).collect()[0].n
    assert n == 100
    tot = spark.sql(
        "SELECT sum(aggregate(tokens, 0L, (a, x) -> a + x)) AS s "
        "FROM ds_tbl").collect()[0].s
    assert tot == sum(2 * i + 1 for i in range(300))


def test_pushdown_filters_correct(spark, table):
    out = (spark.read.format("tokcodec")
           .option("pushdown", "true").load(table))
    assert out.filter(F.col("doc_id") == "d250").count() == 1
    assert out.filter(F.col("n_tok") > 5).count() == 0
    assert out.filter((F.col("n_tok") >= 2)
                      & (F.col("source") == "s0")).count() == 100


def test_filter_specs_shapes(spark, table):
    from pyspark.sql.datasource import (
        EqualTo, GreaterThanOrEqual, In, IsNotNull, LessThan)
    from tokcodec.io_tables import _read_json_fs

    manifest = _read_json_fs(table + "/_manifest.json")
    from tokcodec.schema import manifest_schema

    sch = manifest_schema(manifest)
    specs = _filter_specs(sch, manifest, [
        EqualTo(("doc_id",), "d1"),
        GreaterThanOrEqual(("n_tok",), 2),
        LessThan(("n_tok",), 9),
        IsNotNull(("source",)),          # unprunable shape -> skipped
        EqualTo(("tokens",), [1]),       # non-zone lane -> skipped
        In(("n_tok",), (3, 5)),
        In(("source",), ("s1", "s2")),   # string IN -> bloom ANY-of
    ])
    kinds = [(s["kind"], s["col"]) for s in specs]
    # the two one-sided n_tok bounds merge into ONE two-sided range
    assert kinds == [("zone", "n_tok"), ("eq", "doc_id"),
                     ("zone", "n_tok"), ("eq", "source")]
    assert specs[0]["bounds"] == [(2, 9)]
    assert specs[2]["bounds"] == [(3, 3), (5, 5)]
    assert specs[3]["value"] == ["s1", "s2"]
    assert all("residual" not in s for s in specs)


def test_filter_specs_string_between_merges(spark, table):
    """A string BETWEEN arrives as two one-sided filters; merged they
    prune via the truncated [slo, shi] bounds — the only pruning
    possible on a string lane."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    sch = T.StructType([T.StructField("s", T.StringType())])
    manifest = {"uuid_columns": [], "encrypted_columns": []}
    specs = _filter_specs(sch, manifest, [
        GreaterThanOrEqual(("s",), "200"),
        LessThanOrEqual(("s",), "219"),
    ])
    assert [(s["kind"], s["col"], s["lane"]) for s in specs] == [
        ("zone", "s", "str")]
    assert specs[0]["bounds"] == [(b"200", b"219")]


def test_filter_specs_temporal_and_string_bounds(spark, table):
    """One-sided bounds on date/timestamp columns use type-correct
    sentinels (a raw huge int overflowed the converters), and
    one-sided string bounds are skipped (no safe truncation
    sentinel)."""
    import datetime as dt

    from pyspark.sql.datasource import GreaterThan, LessThanOrEqual

    sch = T.StructType([
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("s", T.StringType()),
    ])
    manifest = {"uuid_columns": [], "encrypted_columns": []}
    specs = _filter_specs(sch, manifest, [
        GreaterThan(("d",), dt.date(2020, 1, 2)),
        LessThanOrEqual(("ts",), dt.datetime(2021, 6, 1, 12, 0, 0)),
        GreaterThan(("s",), "m"),  # skipped: no string sentinel
    ])
    assert [s["col"] for s in specs] == ["d", "ts"]
    (dlo, dhi), = specs[0]["bounds"]
    assert dlo == (dt.date(2020, 1, 2) - dt.date(1970, 1, 1)).days
    assert dhi > dlo
    (tlo, thi), = specs[1]["bounds"]
    assert thi == int(dt.datetime(2021, 6, 1, 12, 0, 0,
                                  tzinfo=dt.timezone.utc).timestamp()
                      ) * 1_000_000
    assert tlo < 0  # year-1 sentinel, still int64-safe
    assert tlo > -(1 << 62)


def test_deletes_apply_through_source(spark, table, tmp_path):
    path = str(tmp_path / "deltbl")
    write_encoded(_mk(spark, 50), path, n_buckets=2, run_id="e0")
    delete_encoded(spark, path, "doc_id", ["d7", "d9"])
    out = spark.read.format("tokcodec").load(path)
    assert out.count() == 48
    # projection WITHOUT the key column: the source decodes the key
    # anyway, masks, then drops it
    assert out.select("n_tok").count() == 48
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert "d7" not in ids and "d9" not in ids


def test_epoch_window_options(spark, table, tmp_path):
    path = str(tmp_path / "wintbl")
    write_encoded(_mk(spark, 10), path, n_buckets=2, run_id="e0",
                  epoch=0)
    write_encoded(_mk(spark, 10, prefix="x"), path, n_buckets=2,
                  run_id="e1", epoch=1)
    assert (spark.read.format("tokcodec")
            .option("as_of_epoch", 0).load(path).count() == 10)
    inc = (spark.read.format("tokcodec")
           .option("since_epoch", 0).load(path))
    assert {r.doc_id[0] for r in inc.select("doc_id").collect()} == {"x"}


def test_stream_tails_epochs(spark, table, tmp_path):
    path = str(tmp_path / "streamtbl")
    write_encoded(_mk(spark, 20), path, n_buckets=2, run_id="e0",
                  epoch=0)
    write_encoded(_mk(spark, 5, prefix="x"), path, n_buckets=2,
                  run_id="e1", epoch=1)
    stream = (spark.readStream.format("tokcodec")
              .option("since_epoch", -1).load(path))
    q = (stream.writeStream.format("memory").queryName("ds_tail")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT doc_id FROM ds_tail").collect()
    assert len(got) == 25
    # second batch of appends arrives in a fresh incremental pass
    write_encoded(_mk(spark, 3, prefix="y"), path, n_buckets=2,
                  run_id="e2", epoch=2)
    q2 = (spark.readStream.format("tokcodec")
          .option("since_epoch", 1).load(path)
          .writeStream.format("memory").queryName("ds_tail2")
          .trigger(availableNow=True).start())
    q2.awaitTermination(120)
    ids = {r.doc_id for r in spark.sql(
        "SELECT doc_id FROM ds_tail2").collect()}
    assert ids == {"y0", "y1", "y2"}


def test_write_roundtrip_and_append(spark, table, tmp_path):
    """df.write.format('tokcodec') creates a table read_encoded can
    decode bit-identically; a second save() APPENDS at a fresh epoch
    (never replaces same-epoch buckets)."""
    from tokcodec.io_tables import read_encoded

    path = str(tmp_path / "wtbl")
    df = _mk(spark, 120).repartition(4, "doc_id")
    df.write.format("tokcodec").mode("append") \
        .option("bloom_columns", "doc_id").save(path)
    back = read_encoded(spark, path)
    assert back.count() == 120
    assert (sorted(r.doc_id for r in back.collect())
            == sorted(f"d{i}" for i in range(120)))
    # engine reader's bloom pruning works on the DS-written table
    one = read_encoded(spark, path, eq_filter=("doc_id", "d7"))
    assert one.count() == 1
    # append lands at epoch 1: time travel shows the pre-append state
    _mk(spark, 10, prefix="x").repartition(2, "doc_id") \
        .write.format("tokcodec").mode("append").save(path)
    assert read_encoded(spark, path).count() == 130
    assert read_encoded(spark, path, as_of_epoch=0).count() == 120
    # and the DS reader round-trips its own writes
    assert spark.read.format("tokcodec").load(path).count() == 130


def test_write_overwrite_supersedes(spark, tmp_path):
    from tokcodec.io_tables import read_encoded

    path = str(tmp_path / "owtbl")
    _mk(spark, 30).repartition(2).write.format("tokcodec").mode("append").save(path)
    _mk(spark, 7, prefix="n").repartition(2).write.format("tokcodec") \
        .mode("overwrite").save(path)
    out = spark.read.format("tokcodec").load(path)
    ids = {r.doc_id for r in out.collect()}
    assert ids == {f"n{i}" for i in range(7)}
    assert read_encoded(spark, path).count() == 7


def test_write_schema_mismatch_append_rejected(spark, tmp_path):
    path = str(tmp_path / "smtbl")
    _mk(spark, 5).write.format("tokcodec").mode("append").save(path)
    bad = _mk(spark, 5).withColumnRenamed("n_tok", "m_tok")
    with pytest.raises(Exception, match="schema mismatch"):
        bad.write.format("tokcodec").mode("append").save(path)


def test_write_encrypted_through_sink(spark, tmp_path):
    from tokcodec.io_tables import read_encoded

    path = str(tmp_path / "wenc")
    key = bytes(range(16, 32))
    (_mk(spark, 16).repartition(2).write.format("tokcodec")
     .mode("append").option("encryption_key_hex", key.hex())
     .option("encrypted_columns", "tokens").save(path))
    out = read_encoded(spark, path, encryption_key=key)
    assert out.agg(F.sum("n_tok")).collect()[0][0] == 32
    with pytest.raises(Exception):
        read_encoded(spark, path).collect()
    # plaintext append to an encrypted table is refused
    with pytest.raises(Exception, match="needs the key"):
        _mk(spark, 4).write.format("tokcodec").mode("append").save(path)


def test_stream_sink_commits_epochs(spark, tmp_path):
    """writeStream.format('tokcodec'): micro-batches land as epochs,
    composable with since_epoch CDC reads and the readStream source."""
    import os

    from tokcodec.io_tables import read_encoded

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    _mk(spark, 12).write.mode("overwrite").parquet(src_dir)
    path = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    sch = spark.read.parquet(src_dir).schema
    q = (spark.readStream.schema(sch).parquet(src_dir)
         .writeStream.format("tokcodec")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start(path))
    q.awaitTermination(180)
    assert read_encoded(spark, path).count() == 12
    # second batch of files -> a later epoch
    _mk(spark, 3, prefix="y").write.mode("append").parquet(src_dir)
    q2 = (spark.readStream.schema(sch).parquet(src_dir)
          .writeStream.format("tokcodec")
          .option("checkpointLocation", ckpt)
          .trigger(availableNow=True).start(path))
    q2.awaitTermination(180)
    out = read_encoded(spark, path)
    assert out.count() == 15
    lin = spark.read.parquet(path + "/lineage")
    epochs = {int(r.epoch) for r in lin.select("epoch").collect()}
    assert len(epochs) >= 2
    inc = {r.doc_id for r in read_encoded(
        spark, path, since_epoch=0).collect()}
    assert inc == {"y0", "y1", "y2"}


def test_encrypted_table_through_source(spark, table, tmp_path):
    path = str(tmp_path / "enctbl")
    key = bytes(range(16))
    write_encoded(_mk(spark, 12), path, n_buckets=2, run_id="e0",
                  encryption_key=key, encrypted_columns=["tokens"])
    out = (spark.read.format("tokcodec")
           .option("encryption_key_hex", key.hex()).load(path))
    assert out.agg(F.sum("n_tok")).collect()[0][0] == 24
    # no key -> decode must fail
    with pytest.raises(Exception):
        spark.read.format("tokcodec").load(path).collect()


def test_pushdown_partitions_list_only_summary_matches(spark, tmp_path):
    """The pushdown reader prunes by file before it cuts partitions:
    an eq filter lists only the files of the run holding the key, an
    absent key or a zone miss lists none (Spark then reads no
    partition), and the rows are exact."""
    from pyspark.sql.datasource import (
        EqualTo, GreaterThanOrEqual, LessThanOrEqual)

    from tokcodec.datasource import TokcodecPushdownBatchReader

    spark.dataSource.register(TokcodecDataSource)
    path = str(tmp_path / "runs")
    for epoch, prefix in enumerate("abc"):
        write_encoded(_mk(spark, 100, prefix=prefix)
                      .withColumn("n_tok", F.lit(10 * epoch)), path,
                      n_buckets=4, run_id=f"r{prefix}", epoch=epoch,
                      bloom_columns=["doc_id"])

    def planned(*filters):
        reader = TokcodecPushdownBatchReader({"path": path}, SCHEMA)
        reader.pushFilters(list(filters))
        return {fp.rsplit("/run-", 1)[1].split("-p")[0]
                for p in reader.partitions() for fp, *_ in p.files}

    assert planned() == {"ra", "rb", "rc"}
    assert planned(EqualTo(("doc_id",), "b7")) == {"rb"}
    # (blooms hash deterministically: this key hits no file bloom)
    assert planned(EqualTo(("doc_id",), "absent-7")) == set()
    assert planned(GreaterThanOrEqual(("n_tok",), 15),
                   LessThanOrEqual(("n_tok",), 25)) == {"rc"}
    assert planned(GreaterThanOrEqual(("n_tok",), 99),
                   LessThanOrEqual(("n_tok",), 100)) == set()
    out = spark.read.format("tokcodec").option("pushdown", "true") \
        .load(path)
    assert out.filter(F.col("doc_id") == "b7").count() == 1
    assert out.filter(F.col("doc_id") == "absent-7").count() == 0
    assert out.filter(F.col("n_tok").between(15, 25)).count() == 100
    assert out.filter(F.col("n_tok").between(99, 100)).count() == 0
