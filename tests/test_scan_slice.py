"""The slice scan task (tokcodec.scan._scan_slice), run Spark-free on
the driver over tables written with Spark.

- File opens: every planned block file is opened at most once per
  slice; a filtered slice where no chunk survives opens none of its
  non-filter files; an unfiltered slice opens exactly its files.
- Slicing invariance: one scan over buckets [b1..bn] returns the same
  (bucket, rows) as n one-bucket scans, for every filter kind, deletes,
  an encrypted table, evolution fill, the bucket column, a chunk
  allow-list and a sample.
- The DataSource plans one partition per slice: no bucket is read by
  two partitions, even over runs written at different task counts.
- Removal lists with UUID keys still match after the vectorized hex
  decode."""

import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

import tokcodec.io_tables as io_tables
import tokcodec.scan as scan
from tokcodec.datasource import TokcodecDataSource, _make_partitions
from tokcodec.decode import make_decode_fn
from tokcodec.io_tables import (
    _chunk_keys,
    _direct_file_rows,
    _filter_list,
    _paths,
    delete_encoded,
    sample_encoded,
    write_encoded,
)
from tokcodec.scan import _scan_slice, _slice_files, plan_snapshot

from test_prune_parity import CASES

KEY = bytes(range(32))
N_BUCKETS = 8


def _source(spark, n, lo=0):
    return spark.range(lo, lo + n).select(
        F.format_string("d%05d", F.col("id")).alias("doc_id"),
        F.col("id").cast("int").alias("k"),
        (F.col("id") / F.lit(3000.0)).alias("f"),
        F.format_string("s%05d", F.col("id")).alias("s"),
        F.array(F.col("id").cast("int"),
                (F.col("id") + 1).cast("int")).alias("tokens"),
    )


def _write_tasks(monkeypatch, k):
    """Write with ``k`` encode tasks, so each block file holds a range
    of buckets, like a write on a k-core host."""
    monkeypatch.setattr(io_tables, "_task_slots",
                        lambda _spark, n: min(n, k))


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("slice")
    mp = pytest.MonkeyPatch()
    try:
        _write_tasks(mp, 2)
        kw = dict(n_buckets=N_BUCKETS, cluster_by="k", chunk_max_rows=100,
                  bloom_columns=["doc_id", "tokens"])
        plain = str(root / "plain")
        write_encoded(_source(spark, 2000), plain, run_id="a", epoch=0,
                      **kw)
        write_encoded(_source(spark, 1000, lo=2000), plain, run_id="b",
                      epoch=1, **kw)
        enc = str(root / "enc")
        write_encoded(_source(spark, 2000), enc, run_id="e",
                      encryption_key=KEY, encrypted_columns=["k", "doc_id"],
                      **kw)
        evo = str(root / "evo")
        write_encoded(_source(spark, 1000).drop("s"), evo, run_id="o",
                      epoch=0, **kw)
        write_encoded(_source(spark, 1000, lo=1000), evo, run_id="n",
                      epoch=1, schema_evolution=True, **kw)
        dels = str(root / "dels")
        write_encoded(_source(spark, 1000), dels, run_id="d", **kw)
        delete_encoded(spark, dels, "doc_id",
                       [f"d{i:05d}" for i in range(0, 1000, 7)])
    finally:
        mp.undo()
    return {"plain": plain, "enc": enc, "evo": evo, "dels": dels}


def _plan(path, kw=None, key=None, bucket_column=None):
    """What read_encoded plans for the scan task, without Spark."""
    snap = plan_snapshot(path, filters=_filter_list(**(kw or {})))
    names = snap.schema.fieldNames()
    fill = scan.fill_anchor(snap.files, names, snap.filter_columns)
    decode = make_decode_fn(snap.schema, fill_from=fill,
                            encryption_key=key, bucket_column=bucket_column)
    rows = _direct_file_rows(snap.files, {*names, fill} - {None},
                             _paths(path)[0])
    removals = []
    if snap.deletes:
        # the DataSource's removal lists: executor-side deletes
        removals = _make_partitions(snap, snap.schema, [])[0].removals
    return snap, rows, decode, removals


def _scan(plan, bks, key=None, **kw):
    snap, rows, decode, removals = plan
    return [(b, t.to_pylist()) for b, t in _scan_slice(
        bks, _slice_files(rows, snap.accepted, bks), snap.specs, decode,
        encryption_key=key, removals=removals, **kw)]


def _slices(snap, k=2):
    bks = sorted(snap.accepted)
    return [bks[i * len(bks) // k:(i + 1) * len(bks) // k]
            for i in range(k)]


class _Opens:
    def __init__(self, monkeypatch):
        self.paths: list[str] = []
        real = scan._open_block_file

        def counting(path):
            self.paths.append(path)
            return real(path)

        monkeypatch.setattr(scan, "_open_block_file", counting)


INVARIANCE = {f"filter_{c}": ("plain", CASES[c], {}) for c in CASES}
INVARIANCE.update({
    "unfiltered": ("plain", {}, {}),
    "deletes": ("dels", {}, {}),
    "deletes_filtered": ("dels", {"range_filter": ("k", 100, 600)}, {}),
    "encrypted": ("enc", {"range_filter": ("k", 100, 450)}, {}),
    "encrypted_eq": ("enc", {"eq_filter": ("doc_id", "d00042")}, {}),
    "evolution_fill": ("evo", {}, {}),
    "evolution_fill_filtered": ("evo", {"range_filter": ("s", "s01000",
                                                         "s01500")}, {}),
    "bucket_column": ("plain", {"range_filter": ("k", 0, 900)},
                      {"bucket_column": "__bucket"}),
    "chunk_allow_list": ("plain", {}, {"allow": 3}),
    "chunk_allow_list_filtered": ("plain", {"range_filter": ("k", 0, 1500)},
                                  {"allow": 2}),
    "sample": ("plain", {}, {"sample": (0.5, 11)}),
    "sample_filtered": ("plain", {"in_filter": ("k", [5, 777, 2500])},
                        {"sample": (0.7, 3)}),
})


def _allow_list(path, every: int) -> set:
    """Every ``every``-th chunk key of the table (a chunk allow-list
    that spans buckets and runs)."""
    import pyarrow.parquet as pq

    snap = plan_snapshot(path)
    blocks = _paths(path)[0]
    keys = set()
    for f in snap.files:
        t = pq.read_table(f"{blocks}/{f['path']}",
                          columns=["run_id", "bucket", "chunk"])
        keys |= set(pc.unique(_chunk_keys(t)).to_pylist())
    return set(sorted(keys)[::every])


@pytest.mark.parametrize("case", sorted(INVARIANCE))
def test_slicing_invariance(tables, case):
    name, kw, opts = INVARIANCE[case]
    path = tables[name]
    key = KEY if name == "enc" else None
    plan = _plan(path, kw, key=key, bucket_column=opts.get("bucket_column"))
    extra = {}
    if "allow" in opts:
        extra["chunks"] = _allow_list(path, opts["allow"])
    if "sample" in opts:
        extra["sample"] = opts["sample"]
    bks = sorted(plan[0].accepted)
    whole = _scan(plan, bks, key=key, **extra)
    single = [got for b in bks for got in _scan(plan, [b], key=key, **extra)]
    assert whole == single, case
    n = sum(len(rows) for _b, rows in whole)
    assert n > 0, case  # non-vacuous
    if name == "dels":
        ids = {r["doc_id"] for _b, rows in whole for r in rows}
        assert not any(int(i[1:]) % 7 == 0 for i in ids)
    if "bucket_column" in opts:
        assert all(r["__bucket"] == b for b, rows in whole for r in rows)
    if name == "evo" and not kw:
        assert sum(r["s"] is None for _b, rows in whole for r in rows) \
            == 1000


@pytest.mark.both_placements
def test_sample_encoded_matches_slice_sample(spark, tables):
    plan = _plan(tables["plain"])
    n = sum(len(rows) for bks in _slices(plan[0])
            for _b, rows in _scan(plan, bks, sample=(0.5, 11)))
    assert sample_encoded(spark, tables["plain"], 0.5, seed=11).count() == n
    assert 0 < n < 3000


@pytest.mark.parametrize("case", ["unfiltered", "eq_present", "contains",
                                  "int_range", "deletes"])
def test_each_file_opened_at_most_once_per_slice(tables, monkeypatch,
                                                 case):
    path = tables["dels" if case == "deletes" else "plain"]
    kw = {"eq_present": {"eq_filter": ("doc_id", "d00042")},
          "contains": CASES["contains"],
          "int_range": CASES["int_range"]}.get(case, {})
    plan = _plan(path, kw)
    for bks in _slices(plan[0]):
        opens = _Opens(monkeypatch)
        _scan(plan, bks)
        assert len(opens.paths) == len(set(opens.paths)), (case, bks)
        planned = {fp for fp, _c, _r, _b in
                   _slice_files(plan[1], plan[0].accepted, bks)}
        assert set(opens.paths) <= planned


def test_unfiltered_slice_opens_exactly_its_files(tables, monkeypatch):
    plan = _plan(tables["plain"])
    for bks in _slices(plan[0]):
        opens = _Opens(monkeypatch)
        _scan(plan, bks)
        files = _slice_files(plan[1], plan[0].accepted, bks)
        assert sorted(opens.paths) == sorted(fp for fp, *_ in files)
        # a file holds a range of buckets, yet it is opened once
        assert any(len(bs) > 1 for *_, bs in files)


def test_present_key_lookup_skips_non_filter_files(tables, monkeypatch):
    plan = _plan(tables["plain"], {"eq_filter": ("doc_id", "d02345")})
    filter_files = {fp for lo, hi, fp, col, rid in plan[1]
                    if col == "doc_id"}
    empty, found = 0, set()
    for bks in _slices(plan[0], k=4):
        opens = _Opens(monkeypatch)
        got = _scan(plan, bks)
        if not got:  # no chunk of this slice survives
            empty += 1
            assert set(opens.paths) <= filter_files, bks
        else:
            assert set(opens.paths) - filter_files, bks
            found |= {r["doc_id"] for _b, rows in got for r in rows}
    assert empty and "d02345" in found


@pytest.mark.both_placements
def test_lookup_opens_only_surviving_runs_files(spark, tables, monkeypatch,
                                                placement):
    """On a two-run table (run "a" holds d00000-d01999, run "b"
    d02000-d02999), an absent-key lookup opens no block file (the
    file blooms in the run manifests drop every file before the scan),
    and a present-key lookup opens files of the surviving run only —
    not those of the other run covering the same bucket. Opens are
    counted in the driver's process: by the slice scan run
    Spark-free, and by read_encoded when it is driver-placed (the
    same files). The rows read_encoded returns are the same on both
    placements."""
    from tokcodec.io_tables import read_encoded

    plan_rows = _plan(tables["plain"])[1]
    col_of = {fp: col for _lo, _hi, fp, col, _r in plan_rows}
    run_of = {fp: rid for _lo, _hi, fp, _c, rid in plan_rows}
    assert set(run_of.values()) == {"a", "b"}
    for key, runs in (("absent", set()), ("d02345", {"b"}),
                      ("d00042", {"a"})):
        kw = {"eq_filter": ("doc_id", key)}
        plan = _plan(tables["plain"], kw)
        opens = _Opens(monkeypatch)
        for bks in _slices(plan[0], k=4):
            _scan(plan, bks)
        others = {p for p in opens.paths if col_of[p] != "doc_id"}
        assert {run_of[p] for p in others} == runs, key
        assert {run_of[p] for p in opens.paths} == runs, key
        scanned = set(opens.paths)
        opens = _Opens(monkeypatch)
        got = read_encoded(spark, tables["plain"], **kw).collect()
        assert [r.doc_id for r in got] == ([key] if runs else [])
        if placement == "driver":
            assert set(opens.paths) == scanned, key


def test_datasource_one_partition_per_slice(spark, tmp_path, monkeypatch):
    """Runs written at 2, then 4, then 1 encode task: the newest run's
    ranges cut the slices, every bucket is read by exactly one
    partition, and every row comes back."""
    spark.dataSource.register(TokcodecDataSource)
    path = str(tmp_path / "mixed")
    for rid, ntask, lo in (("r2", 2, 0), ("r1", 1, 600), ("r4", 4, 1200)):
        _write_tasks(monkeypatch, ntask)
        write_encoded(_source(spark, 600, lo=lo), path, run_id=rid,
                      n_buckets=N_BUCKETS, epoch={"r2": 0, "r1": 1,
                                                  "r4": 2}[rid])
    monkeypatch.undo()
    snap = plan_snapshot(path)
    parts = _make_partitions(snap, snap.schema, [])
    seen = [b for p in parts for b in p.buckets]
    assert sorted(seen) == sorted(snap.accepted)  # no bucket twice
    assert len(parts) == 4  # the newest run's 4 task ranges
    for p in parts:
        assert p.buckets == list(range(p.buckets[0], p.buckets[-1] + 1))
    out = spark.read.format("tokcodec").load(path)
    ids = sorted(r.k for r in out.select("k").collect())
    assert ids == list(range(1800))


def test_datasource_slices_are_components(spark, tmp_path, monkeypatch):
    """One run written at 2 tasks: two components, one partition each,
    and each file belongs to exactly one partition."""
    path = str(tmp_path / "two")
    _write_tasks(monkeypatch, 2)
    write_encoded(_source(spark, 400), path, run_id="t", n_buckets=N_BUCKETS)
    monkeypatch.undo()
    snap = plan_snapshot(path)
    parts = _make_partitions(snap, snap.schema, [])
    assert [p.buckets for p in parts] == [[0, 1, 2, 3], [4, 5, 6, 7]]
    files = [fp for p in parts for fp, *_ in p.files]
    assert len(files) == len(set(files))


def test_uuid_bytes_matches_fromhex():
    vals = [str(uuid.UUID(int=(i * 0x9E3779B97F4A7C15) % (1 << 128)))
            for i in range(50)]
    vals += [v.upper() for v in vals[:5]] + [vals[0].replace("-", "")]
    got = scan._uuid_bytes(pa.array(vals + [None], pa.string()))
    assert got.to_pylist() == [bytes.fromhex(v.replace("-", ""))
                               for v in vals]
    assert scan._uuid_bytes(pa.array([], pa.string())).to_pylist() == []
    with pytest.raises(ValueError, match="not a UUID"):
        scan._uuid_bytes(pa.array(["zz" * 16], pa.string()))
    with pytest.raises(ValueError, match="not a UUID"):
        scan._uuid_bytes(pa.array(["abc"], pa.string()))


def test_datasource_uuid_key_delete(spark, tmp_path):
    spark.dataSource.register(TokcodecDataSource)
    path = str(tmp_path / "u")
    ids = [str(uuid.UUID(int=i * 7919)) for i in range(40)]
    df = spark.createDataFrame([(u, i) for i, u in enumerate(ids)],
                               "uid string, v int")
    write_encoded(df, path, n_buckets=4, run_id="base", uuid_columns=["uid"])
    delete_encoded(spark, path, "uid", [ids[0], ids[3], ids[39]])
    left = {r.v for r in spark.read.format("tokcodec").load(path)
            .select("v").collect()}
    assert left == set(range(40)) - {0, 3, 39}


def test_block_file_split_by_bucket(tmp_path):
    """A multi-bucket row group splits by bucket whatever its row
    order; buckets the slice does not take are dropped."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"bucket": pa.array([3, 1, 3, 2, 1], pa.int32()),
                             "v": [0, 1, 2, 3, 4]}), path)
    f = scan._BlockFile(path, [1, 3])
    assert f.take(1).column("v").to_pylist() == [1, 4]
    assert f.take(2) is None
    assert f.take(3).column("v").to_pylist() == [0, 2]
    f.close()
