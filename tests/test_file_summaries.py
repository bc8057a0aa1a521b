"""File summaries in the run manifest: the block writer merges each
file's chunk zones and builds one file bloom from the chunk blooms'
hashes; the planner drops the (run, bucket) pairs they rule out before
any block file is opened, so a lookup's file opens stop growing with
the number of appended runs."""

import os

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import Row

from conftest import local_frame
from tokcodec import scan
from tokcodec.bloom import bloom_might_contain, bloom_params, file_bloom
from tokcodec.io_tables import (
    _make_block_writer,
    _merge_zone_metas,
    _meta_zone_hit,
    read_encoded,
    write_encoded,
)

APPENDS = 6


def _rows(prefix, n):
    return [Row(doc_id=f"{prefix}-{i:04d}", tokens=[i, i + 1], n_tok=2,
                source=f"s{i % 3}") for i in range(n)]


@pytest.fixture(scope="module")
def appended(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("summ") / "t")
    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    write_encoded(local_frame(spark.createDataFrame(_rows("base", 400),
                                                    schema)),
                  path, n_buckets=8, run_id="base",
                  bloom_columns=["doc_id", "tokens"])
    for e in range(1, APPENDS + 1):
        write_encoded(local_frame(spark.createDataFrame(_rows(f"a{e}", 50),
                                                        schema)),
                      path, n_buckets=8, run_id=f"a{e}", epoch=e)
    return path


@pytest.fixture
def opened(monkeypatch):
    paths: list = []
    real = scan._open_block_file
    monkeypatch.setattr(scan, "_open_block_file",
                        lambda p: paths.append(p) or real(p))
    return paths


def _run(p: str) -> str:
    return os.path.basename(p).split("-p0")[0][len("run-"):]


def test_absent_key_lookup_opens_no_block_file(spark, appended, opened):
    for key in ("absent-1", "absent-2", "base-9999"):
        assert read_encoded(spark, appended,
                            eq_filter=("doc_id", key)).count() == 0
    assert opened == []
    assert read_encoded(spark, appended, columns=["doc_id"],
                        contains_filter=("tokens", 10 ** 6)).count() == 0
    assert opened == []


# keys no other run's file bloom holds by a false positive (at ~1% a
# file, a quarter of keys meet one among this table's 56 doc_id files;
# such a file and its run's survivors would be opened too)
@pytest.mark.parametrize("key,run", [("a3-0006", "a3"), ("a6-0009", "a6"),
                                     ("base-0012", "base")])
def test_present_key_lookup_opens_only_its_runs_files(spark, appended,
                                                      opened, key, run):
    got = read_encoded(spark, appended, eq_filter=("doc_id", key)).collect()
    assert [r.doc_id for r in got] == [key]
    assert opened and {_run(p) for p in opened} == {run}, opened


def test_a_bucket_split_over_two_flushes_gets_no_second_bloom(tmp_path):
    """The writer pops a bucket's chunk hashes at the first flush that
    holds its rows: a second file holding more of the bucket's rows
    gets no file bloom (keep everything), never a bloom that misses
    them."""
    def rows(bucket, chunk, vals):
        n = len(vals)
        return pa.RecordBatch.from_pydict({
            "run_id": ["r"] * n, "bucket": pa.array([bucket] * n, pa.int32()),
            "chunk": pa.array([chunk] * n, pa.int32()),
            "column": ["c"] * n, "component": ["values"] * n,
            "codec": ["plain"] * n, "n_rows": pa.array([1] * n, pa.int64()),
            "payload": pa.array([b"x"] * n, pa.binary()),
            "meta": [f'{{"lo":{v},"hi":{v}}}' for v in vals],
            "orig_bytes": pa.array([1] * n, pa.int64()),
            "enc_bytes": pa.array([1] * n, pa.int64()),
            "checksum": pa.array([0] * n, pa.int64())})

    hashes = {(0, "c"): [np.array([1, 2], np.uint64)],
              (1, "c"): [np.array([3], np.uint64)]}
    writer = _make_block_writer(str(tmp_path), "r", flush_bytes=1)
    out = [r for b in writer(iter([rows(0, 0, [1, 2]), rows(0, 1, [7]),
                                   rows(1, 0, [3])]), 0,
                             bloom_hashes=hashes) for r in b.to_pylist()]
    assert [(r["bucket_ranges"], r["bloom"] is not None) for r in out] \
        == [("[[0, 0]]", True), ("[[0, 0]]", False), ("[[1, 1]]", True)]
    assert [r["zone"] for r in out] == ['{"lo":1,"hi":2}', '{"lo":7,"hi":7}',
                                        '{"lo":3,"hi":3}']
    assert hashes == {}


def test_file_bloom_holds_every_hashed_value():
    from tokcodec.bloom import polyhash_batch

    vals = [f"k{i}".encode() for i in range(3000)]
    data = b"".join(vals)
    lens = np.array([len(v) for v in vals], np.int64)
    h = polyhash_batch(data, lens)
    bits = file_bloom([h[:1000], h[500:], h[:10]])  # duplicates count once
    assert len(bits) * 8 == 1 << (10 * 3000 - 1).bit_length()
    assert all(bloom_might_contain(bits, *bloom_params(v)) for v in vals)


_meta = st.one_of(
    st.fixed_dictionaries({}),
    st.integers(-50, 50).flatmap(lambda lo: st.integers(lo, 60).map(
        lambda hi: {"lo": lo, "hi": hi})),
    st.tuples(st.binary(max_size=3), st.binary(max_size=3)).map(
        lambda t: {"slo": sorted(t)[0], "shi": sorted(t)[1]}),
    st.binary(max_size=3).map(lambda b: {"slo": b, "shi_inf": 1}),
)


@given(st.lists(_meta, min_size=1, max_size=6),
       st.sampled_from(["int", "str"]),
       st.integers(-60, 60), st.integers(0, 30),
       st.binary(max_size=3), st.binary(max_size=3))
@settings(max_examples=300, deadline=None)
def test_merged_zone_passes_whatever_a_chunk_passes(metas, lane, lo, width,
                                                    b1, b2):
    import base64

    enc = [{k: (base64.b64encode(v).decode() if k in ("slo", "shi")
                else v) for k, v in m.items()} for m in metas]
    nf = {"lane": lane,
          "bounds": [(lo, lo + width)] if lane == "int"
          else [tuple(sorted((b1, b2)))]}
    if any(_meta_zone_hit(m, nf) for m in enc):
        assert _meta_zone_hit(_merge_zone_metas(enc), nf)
