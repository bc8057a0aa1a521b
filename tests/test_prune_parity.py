"""One chunk pruner, _prune_block_table, serves explain_scan and the
scan task: both run it through the slice prune phase
(tokcodec.scan._index_slice), explain_scan over block metadata plus
the probed blooms (chunk_index), the scan task over the filter
columns' files before it decodes. Their chunks must agree for every
filter kind, so explain_scan's chunks_scanned is checked against the
task's own prune step, under both placements of explain_scan (on the
driver, and in one task per slice).

The scan task runs here as ONE slice over all of a table's buckets,
the way a read task prunes: the plain table has 2 buckets and 2 runs,
so chunk numbers repeat across both, and a survivor keyed on anything
less than (run_id, bucket, chunk) would merge chunks and show up as a
count mismatch."""

import pytest
from pyspark.sql import functions as F

from tokcodec.agg import aggregate_encoded
from tokcodec.io_tables import (
    _direct_file_rows,
    _filter_list,
    _paths,
    explain_scan,
    read_encoded,
    write_encoded,
)
from tokcodec.scan import _scan_slice, _slice_files, plan_snapshot

KEY = bytes(range(32))

pytestmark = pytest.mark.both_placements


def _source(spark, n=3000):
    return spark.range(n).select(
        F.format_string("d%05d", F.col("id")).alias("doc_id"),
        F.col("id").cast("int").alias("k"),
        (F.col("id") / F.lit(float(n))).alias("f"),
        F.format_string("s%05d", F.col("id")).alias("s"),
        F.array(F.col("id").cast("int"),
                (F.col("id") + 1).cast("int")).alias("tokens"),
    )


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("parity")
    plain, enc = str(root / "plain"), str(root / "enc")
    df = _source(spark)
    kw = dict(n_buckets=2, cluster_by="k", chunk_max_rows=100,
              bloom_columns=["doc_id", "tokens"])
    # two runs: chunk numbers repeat across runs
    write_encoded(df.filter("k < 2000"), plain, run_id="a", epoch=0, **kw)
    write_encoded(df.filter("k >= 2000"), plain, run_id="b", epoch=1,
                  **kw)
    write_encoded(df, enc, run_id="e", encryption_key=KEY,
                  encrypted_columns=["k", "doc_id"], **kw)
    return plain, enc


def _task_kept(path, filts, key=None) -> set:
    """Distinct (run_id, bucket, chunk)s the scan task's prune step
    keeps over the table's block rows, all buckets in one slice."""
    snap = plan_snapshot(path, filters=filts)
    rows = _direct_file_rows(snap.files, set(snap.schema.fieldNames()),
                             _paths(path)[0])
    buckets = sorted(snap.accepted)

    def keys(_bucket, tbl):  # stands in for decode: the pruned rows
        return tbl.select(["run_id", "bucket", "chunk"])

    kept: set = set()
    for _b, out in _scan_slice(
            buckets, _slice_files(rows, snap.accepted, buckets),
            snap.specs, keys, encryption_key=key):
        kept |= set(zip(*(out.column(i).to_pylist() for i in range(3))))
    return kept


CASES = {
    "int_range": {"range_filter": ("k", 100, 450)},
    "float_range": {"range_filter": ("f", 0.25, 0.4)},
    "string_range": {"range_filter": ("s", "s01000", "s01299")},
    "in": {"in_filter": ("k", [5, 777, 2500])},
    "eq_one": {"eq_filter": ("doc_id", "d00042")},
    "eq_list": {"eq_filter": ("doc_id", ["d00042", "d02999", "nope"])},
    "contains": {"contains_filter": ("tokens", [1500, 10 ** 7])},
    "or": {"or_filter": [("k", 0, 150), ("f", 0.9, 1.0)]},
}


@pytest.mark.parametrize("case", sorted(CASES) + ["encrypted_range"])
def test_explain_matches_scan_task_prune(spark, tables, case):
    plain, enc = tables
    if case == "encrypted_range":
        path, kw, key = enc, {"range_filter": ("k", 100, 450)}, KEY
    else:
        path, kw, key = plain, CASES[case], None
    ex = explain_scan(spark, path, encryption_key=key, **kw)
    kept = _task_kept(path, _filter_list(**kw), key=key)
    assert ex["chunks_scanned"] == len(kept), (case, ex, sorted(kept))
    # non-vacuous: the filter keeps something and prunes something
    assert 0 < len(kept) < ex["chunks_total"], (case, ex)


@pytest.fixture(scope="module")
def shared_groups(spark, tmp_path_factory):
    """32 buckets over at most 8 write slices: each block file holds
    several buckets in one row group, which a slice splits by bucket
    into zero-copy slices (arrays with offsets)."""
    path = str(tmp_path_factory.mktemp("parity") / "shared")
    df = _source(spark)
    kw = dict(n_buckets=32, cluster_by="k", chunk_max_rows=40,
              bloom_columns=["doc_id", "tokens"])
    write_encoded(df.filter("k < 2000"), path, run_id="a", epoch=0, **kw)
    write_encoded(df.filter("k >= 2000"), path, run_id="b", epoch=1,
                  **kw)
    return path


@pytest.mark.parametrize("case", sorted(CASES))
def test_prune_on_shared_row_groups(spark, shared_groups, case):
    """The same agreement where block files share row groups across
    buckets; an aggregate over the pruned chunks counts the rows the
    read returns."""
    kw = CASES[case]
    ex = explain_scan(spark, shared_groups, **kw)
    kept = _task_kept(shared_groups, _filter_list(**kw))
    assert ex["chunks_scanned"] == len(kept), (case, ex, sorted(kept))
    assert 0 < len(kept) < ex["chunks_total"], (case, ex)
    assert aggregate_encoded(spark, shared_groups, "k", **kw)["rows"] \
        == read_encoded(spark, shared_groups, **kw).count()
