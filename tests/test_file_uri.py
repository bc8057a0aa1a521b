"""Tables addressed by file: URIs resolve through the one filesystem
layer (io_tables._task_fs): the short "file:/p" form and percent-encoded
"file:///…/a%20b" paths both land every file — blocks, run manifests,
lineage, tags, the table manifest, removal lists — under the decoded
local directory, and the table reads back."""

import os
from urllib.parse import quote

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from tokcodec.io_tables import (
    compact_encoded,
    delete_encoded,
    read_encoded,
    tag_encoded,
    tags_encoded,
    vacuum_encoded,
    write_encoded,
)

SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
    T.StructField("n_tok", T.IntegerType(), False),
])


def _rows(lo, hi):
    return [Row(doc_id=f"d{i}", tokens=[i, i + 1], n_tok=2)
            for i in range(lo, hi)]


def _key(r):
    return (r.doc_id, list(r.tokens), r.n_tok)


@pytest.mark.parametrize("form", ["file:", "file://+quoted"])
def test_file_uri_table_lifecycle(spark, tmp_path, monkeypatch, form):
    # a literal "file:" path resolved against the working directory
    # would land here, where the test can see it
    monkeypatch.chdir(tmp_path)
    local = str(tmp_path / ("t" if form == "file:" else "a b"))
    uri = ("file:" + local if form == "file:"
           else "file://" + quote(local))

    src = _rows(0, 40) + _rows(40, 70)
    write_encoded(spark.createDataFrame(_rows(0, 40), SCHEMA), uri,
                  n_buckets=3, run_id="r0")
    write_encoded(spark.createDataFrame(_rows(40, 70), SCHEMA), uri,
                  n_buckets=3, run_id="r1", epoch=1)
    assert tag_encoded(spark, uri, "v1") == {"tag": "v1", "epoch": 1}
    assert tags_encoded(spark, uri) == {"v1": 1}
    res = compact_encoded(spark, uri, run_id="c0")
    assert res["rows"] == len(src)

    got = sorted(_key(r) for r in read_encoded(spark, uri).collect())
    assert got == sorted(_key(r) for r in src)

    # every file is under the decoded directory
    for name in ("_manifest.json", "_tags.json", "_runs/r0.json",
                 "_runs/r1.json", "_runs/c0.json"):
        assert os.path.isfile(os.path.join(local, name)), name
    assert [f for f in os.listdir(os.path.join(local, "lineage"))
            if f.endswith(".parquet")]
    assert os.listdir(os.path.join(local, "blocks"))
    for root, dirs, _files in os.walk(tmp_path):
        for d in dirs:
            assert "%20" not in d and not d.startswith("file:"), \
                os.path.join(root, d)


@pytest.mark.both_placements
@pytest.mark.parametrize("form", ["file:", "file://+quoted"])
def test_file_uri_deletes(spark, tmp_path, monkeypatch, form):
    # the removal list lands under the decoded directory, so
    # read_encoded and the DataSource agree on the surviving rows,
    # compaction materializes the delete and vacuum reclaims the list
    from tokcodec.datasource import TokcodecDataSource

    monkeypatch.chdir(tmp_path)
    local = str(tmp_path / ("t" if form == "file:" else "a b"))
    uri = ("file:" + local if form == "file:"
           else "file://" + quote(local))
    write_encoded(spark.createDataFrame(_rows(0, 40), SCHEMA), uri,
                  n_buckets=3, run_id="r0")
    info = delete_encoded(spark, uri, "doc_id", ["d3", "d17", "d99"],
                          delete_id="rm")
    assert info["n_keys"] == 3
    assert os.listdir(os.path.join(local, "_deletes", "rm"))
    want = sorted(_key(r) for r in _rows(0, 40)
                  if r.doc_id not in ("d3", "d17"))
    assert sorted(_key(r) for r in read_encoded(spark, uri).collect()) \
        == want
    spark.dataSource.register(TokcodecDataSource)
    src = spark.read.format("tokcodec").load(uri)
    assert sorted(_key(r) for r in src.collect()) == want
    assert compact_encoded(spark, uri, run_id="c0")["rows"] == len(want)
    v = vacuum_encoded(spark, uri)
    assert v["deleted_removal_lists"] == 1
    assert not os.path.exists(os.path.join(local, "_deletes", "rm"))
    assert sorted(_key(r) for r in read_encoded(spark, uri).collect()) \
        == want
    for root, dirs, _files in os.walk(tmp_path):
        for d in dirs:
            assert "%20" not in d and not d.startswith("file:"), \
                os.path.join(root, d)
