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
    return _kept(plan_snapshot(path, filters=filts), key=key)


def _kept(snap, key=None) -> set:
    """_task_kept over a planned snapshot."""
    rows = _direct_file_rows(snap.files, set(snap.schema.fieldNames()),
                             _paths(snap.path)[0])
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


# ------------------------------------------------- file summaries
# The planner drops the (run, bucket) pairs whose file summaries in
# the run manifests rule out a filter (scan._summary_dropped). Three
# runs with disjoint key ranges, so that whole runs' files prune, over
# every zone lane: int, float with NaN, truncated binary (a run whose
# longest values are all 0xFF has unbounded chunk zones, shi_inf),
# timestamp, decimal, and a nullable column with null-only chunks.

_T0 = 1_600_000_000


def _lanes_source(spark, n=3000):
    k = F.col("id")
    return spark.range(n).select(
        F.format_string("d%05d", k).alias("doc_id"),
        k.cast("int").alias("k"),
        F.when(k % 1000 < 400, F.lit(None)).otherwise(k)
        .cast("int").alias("nk"),
        F.when(k % 97 == 0, F.lit(float("nan")))
        .otherwise(k / F.lit(float(n))).alias("f"),
        F.when((k >= 2000) & (k % 7 == 0), F.unhex(F.lit("FF" * 30)))
        .otherwise(F.format_string("b%05d", k).cast("binary")).alias("b"),
        F.timestamp_seconds(k * 60 + _T0).alias("t"),
        (k / F.lit(100)).cast("decimal(10,2)").alias("dec"),
        F.array(k.cast("int"), (k + 1).cast("int")).alias("tokens"),
    )


@pytest.fixture(scope="module")
def lanes(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("parity") / "lanes")
    df = _lanes_source(spark)
    kw = dict(n_buckets=4, cluster_by="k", chunk_max_rows=50,
              bloom_columns=["doc_id", "tokens"])
    for epoch, (rid, cond) in enumerate((("a", "k < 1000"),
                                         ("b", "k >= 1000 AND k < 2000"),
                                         ("c", "k >= 2000"))):
        write_encoded(df.filter(cond), path, run_id=rid, epoch=epoch, **kw)
    return path, df


def _ts(k):
    import datetime as dt

    return dt.datetime.fromtimestamp(_T0 + 60 * k)


ZONE_CASES = {
    "int_range": {"range_filter": ("k", 1200, 1300)},
    "in_10k_keys": {"in_filter": ("k", list(range(10 ** 6, 10 ** 6 + 9998))
                                  + [1500, 1777])},
    "float_nan": {"range_filter": ("f", 0.4, 0.45)},
    "binary_truncated": {"range_filter": ("b", b"\xff" * 3,
                                          b"\xff" * 40)},
    "timestamp": {"range_filter": ("t", _ts(2100), _ts(2200))},
    "null_only_chunks": {"range_filter": ("nk", 1500, 1600)},
    "or": {"or_filter": [("k", 0, 100), ("f", 0.9, 1.0)]},
}
BLOOM_CASES = {
    "eq_present": {"eq_filter": ("doc_id", "d01500")},
    "eq_absent": {"eq_filter": ("doc_id", "nope")},
    "eq_list": {"eq_filter": ("doc_id", ["d00042", "d02999", "nope"])},
    "contains": {"contains_filter": ("tokens", [1500, 10 ** 7])},
}
# every case but one misses whole runs, or whole buckets of a run, so
# its files drop; in the one left, every file of nk holds a null-only
# chunk, and so has no zone summary
KEEPS_ALL = {"null_only_chunks"}


@pytest.mark.parametrize("case", sorted(ZONE_CASES) + sorted(BLOOM_CASES))
def test_file_summaries_keep_what_chunks_keep(spark, lanes, case):
    """A pair the file summaries drop holds no chunk the chunk pruner
    keeps (zone summaries), or no matching row (file blooms, which may
    also drop a chunk whose own bloom gave a false positive): the
    pruned plan keeps the same chunks, or a subset, and the read
    returns exactly the rows the filters select."""
    path, df = lanes
    kw = {**ZONE_CASES, **BLOOM_CASES}[case]
    filts = _filter_list(**kw)
    whole = plan_snapshot(path, filters=filts, prune_files=False)
    pruned = plan_snapshot(path, filters=filts)
    assert pruned.dropped == whole.dropped
    assert not any((r, b) in whole.dropped
                   for b, rs in pruned.accepted.items() for r in rs)
    kept_all, kept = _kept(whole), _kept(pruned)
    if case in ZONE_CASES:
        assert kept == kept_all, case
        assert not {(r, b) for r, b, _c in kept_all} & whole.dropped
    else:
        assert kept <= kept_all, case
        assert {(r, b) for r, b, _c in kept_all - kept} <= whole.dropped
    assert bool(whole.dropped) != (case in KEEPS_ALL), (case, whole.dropped)
    want = df
    for nf in whole.filters:
        want = want.filter(nf["residual"])
    assert read_encoded(spark, path, **kw).count() == want.count(), case
    ex = explain_scan(spark, path, **kw)
    assert ex["chunks_scanned"] == len(kept), (case, ex)
    assert (ex["files_pruned"] > 0) != (case in KEEPS_ALL), (case, ex)
    assert ex["files_total"] == len({f["path"] for f in whole.files
                                     if f["column"] != "__bucket_metrics__"})


def test_null_only_chunks_keep_their_files(lanes):
    """A chunk with no stats (all null) makes its file's zone summary
    keep everything, as the chunk pruner keeps the chunk."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path, _df = lanes
    snap = plan_snapshot(path)
    blocks_p = _paths(path)[0]
    nk = [f for f in snap.files if f["column"] == "nk"]
    for f in nk:
        t = pq.read_table(f"{blocks_p}/{f['path']}")
        metas = t.filter(pc.equal(t.column("component"), "values")) \
            .column("meta").to_pylist()
        null_only = any('"lo"' not in m for m in metas)
        assert ("zone" not in f) == null_only, (f, metas)
    assert any("zone" not in f for f in nk)


def test_summaries_bound_their_chunks(spark, lanes):
    """The file summary of a decimal (unscaled int lane) and a
    timestamp (epoch-µs) column is the min/max of its chunks' zones, a
    truncated binary one is unbounded above where a chunk is, and an
    aggregate over a file-pruned plan stays exact."""
    import json as _json

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path, df = lanes
    snap = plan_snapshot(path)
    blocks_p = _paths(path)[0]
    for f in snap.files:
        if f["column"] not in ("dec", "t"):
            continue
        t = pq.read_table(f"{blocks_p}/{f['path']}")
        metas = [_json.loads(m) for m in t.filter(pc.equal(
            t.column("component"), "values")).column("meta").to_pylist()]
        assert f["zone"] == {"lo": min(m["lo"] for m in metas),
                             "hi": max(m["hi"] for m in metas)}, f
    # run c's binary chunks holding 30 bytes of 0xFF have no finite
    # upper bound, nor then have their files
    unbounded = {f["run_id"] for f in snap.files
                 if f["column"] == "b" and f["zone"].get("shi_inf")}
    assert unbounded == {"c"}
    got = aggregate_encoded(spark, path, "dec", range_filter=("k", 1200, 1300))
    want = df.filter("k BETWEEN 1200 AND 1300").agg(
        F.sum("dec").alias("s"), F.count("*").alias("n")).collect()[0]
    assert got["rows"] == want.n and got["sum"] == want.s
