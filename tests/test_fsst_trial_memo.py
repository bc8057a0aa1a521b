"""One FSST trial per (chunk index, string leaf) per encode task: once a
leaf's trial loses on chunk i of a bucket, chunk i of the task's later
buckets goes straight to plain_str without training; chunks whose trial
wins still train their own table. Every test compares block rows with
the same task run under the per-chunk trial rule (the trial forced on
every chunk). Spark-free: the task functions are driven directly with
Arrow batches."""

import collections
import glob

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from tokcodec import blocks
from tokcodec import encode as enc_mod
from tokcodec.codecs import fsst
from tokcodec.decode import make_decode_fn
from tokcodec.encode import BUCKET_COL, METRICS_COLUMN, make_encode_sorted_fn
from tokcodec.schema import SEQ_SCHEMA
from tokcodec.synth import synth_arrow

N_BUCKETS = 4


@pytest.fixture
def trainings(monkeypatch):
    """Counter of fsst.train_table calls per (column, component) leaf."""
    counts = collections.Counter()
    leaf = {}
    real_enc = enc_mod.encode_str_component
    real_train = fsst.train_table

    def encode_str_component(bucket, column, component, arr, **kw):
        leaf["cur"] = (column, component)
        return real_enc(bucket, column, component, arr, **kw)

    def train_table(*args):
        counts[leaf["cur"]] += 1
        return real_train(*args)

    monkeypatch.setattr(enc_mod, "encode_str_component", encode_str_component)
    monkeypatch.setattr(fsst, "train_table", train_table)
    return counts


def _with_buckets(tbl: pa.Table, b: np.ndarray) -> pa.Table:
    """Append bucket ids ``b`` and sort by them (stably, keeping each
    bucket's rows in input order), as the write's sortWithinPartitions
    does."""
    order = np.argsort(b, kind="stable")
    return tbl.take(pa.array(order)).append_column(
        BUCKET_COL, pa.array(b[order].astype(np.int32)))


def _round_robin(tbl: pa.Table, n_buckets: int) -> pa.Table:
    return _with_buckets(tbl, np.arange(tbl.num_rows) % n_buckets)


def _run_task(fn, stream: pa.Table) -> pa.Table:
    return pa.Table.from_batches(
        list(fn(stream.to_batches(max_chunksize=700))))


def _run_task_trial_every_chunk(fn, stream: pa.Table) -> pa.Table:
    """The reference: the same task with the selector ignoring
    ``skip_trial``, i.e. one FSST trial on every high-cardinality
    chunk."""
    real = blocks.select_str_codec
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(blocks, "select_str_codec",
                   lambda data, lengths, arr, skip_trial=False:
                   real(data, lengths, arr))
        return _run_task(fn, stream)


def _block_rows(out: pa.Table) -> list[tuple]:
    """Every block row; metrics rows without their measured wall_ms."""
    keys = ("bucket", "chunk", "column", "component", "codec", "n_rows",
            "payload", "meta", "orig_bytes", "enc_bytes", "checksum")
    return sorted(
        tuple(r[k] if not (r["column"] == METRICS_COLUMN and k == "meta")
              else None for k in keys)
        for r in out.to_pylist())


def _codecs(out: pa.Table, column: str) -> dict[tuple, str]:
    return {(r["bucket"], r["chunk"]): r["codec"]
            for r in out.to_pylist() if r["column"] == column}


@pytest.mark.parametrize("chunk_rows", [1 << 16, 300])
def test_one_losing_trial_per_chunk_index_per_task(trainings, chunk_rows):
    b = np.random.default_rng(1).integers(0, N_BUCKETS, 4000)
    stream = _with_buckets(synth_arrow(4000, seed=7), b)
    fn = make_encode_sorted_fn(SEQ_SCHEMA, "r", chunk_max_rows=chunk_rows)
    out = _run_task(fn, stream)

    # doc_id is high-cardinality (plain_str after a losing trial) on all
    # but tiny tail chunks, which the cardinality branch sends to dict
    lost = [ci for (_, ci), c in _codecs(out, "doc_id").items()
            if c == "plain_str"]
    # one losing trial per chunk index, not one per (bucket, chunk)
    assert trainings[("doc_id", "values")] == len(set(lost))
    assert len(lost) > len(set(lost))
    if chunk_rows == 1 << 16:
        assert len(set(lost)) == 1
    assert trainings[("source", "values")] == 0

    # a second call is a new task: it trials again
    _run_task(fn, stream)
    assert trainings[("doc_id", "values")] == 2 * len(set(lost))

    trainings.clear()
    ref = _run_task_trial_every_chunk(fn, stream)
    assert trainings[("doc_id", "values")] == len(lost)
    assert _block_rows(out) == _block_rows(ref)


def _vocab_strings(n: int, seed: int) -> np.ndarray:
    """bench.py's FSST fixture shape: 12 words per row from a 220-word
    vocabulary of short, overlapping symbols."""
    vocab = np.array([f"w{i:03d}" + "abcdefgh"[:(i % 5) + 2]
                      for i in range(220)])
    words = vocab[np.random.default_rng(seed).integers(0, 220, (n, 12))]
    msg = words[:, 0]
    for j in range(1, 12):  # 12 words per row
        msg = np.char.add(np.char.add(msg, " "), words[:, j])
    return msg


def _ids_then_prose(n_ids: int, n_prose: int) -> pa.Array:
    """A string column whose FSST verdict changes along the input:
    ``n_ids`` synth doc ids (FSST loses) followed by ``n_prose`` vocab
    rows (FSST wins on 500-row chunks)."""
    ids = synth_arrow(n_ids, seed=3).column("doc_id").to_pylist()
    return pa.array(ids + _vocab_strings(n_prose, seed=5).tolist(),
                    pa.string())


MSG_SCHEMA = T.StructType([T.StructField("msg", T.StringType(), False)])


def test_fsst_winners_train_per_chunk(trainings):
    # 2 buckets x 2 full chunks; FSST needs ~1000-row chunks to win
    msg = pa.table({"msg": pa.array(_vocab_strings(4000, seed=5).tolist())})
    stream = _round_robin(msg, 2)
    fn = make_encode_sorted_fn(MSG_SCHEMA, "r", chunk_max_rows=1000)
    out = _run_task(fn, stream)

    data = _codecs(out, "msg")
    assert len({b for b, _ in data}) == 2
    assert len(data) == 4
    assert set(data.values()) == {"fsst"}
    assert trainings[("msg", "values")] == len(data)
    assert _block_rows(out) == _block_rows(
        _run_task_trial_every_chunk(fn, stream))

    dec = make_decode_fn(MSG_SCHEMA)
    for b in (0, 1):
        blk = out.filter(pc.and_(pc.equal(out.column("bucket"), b),
                                 pc.not_equal(out.column("column"),
                                              METRICS_COLUMN)))
        got = dec((b,), blk).column("msg").to_pylist()
        want = stream.filter(pc.equal(stream.column(BUCKET_COL), b)) \
            .column("msg").to_pylist()
        assert got == want


def test_verdict_changing_along_input(trainings):
    # each bucket: 1000 id rows (chunks 0-1 lose), then 1000 prose rows
    # (chunks 2-3 win); a loss on chunk 0 must not reach chunk 2
    stream = _round_robin(pa.table({"msg": _ids_then_prose(4000, 4000)}),
                          N_BUCKETS)
    fn = make_encode_sorted_fn(MSG_SCHEMA, "r", chunk_max_rows=500)
    out = _run_task(fn, stream)

    codecs = _codecs(out, "msg")
    assert codecs == {(b, ci): "plain_str" if ci < 2 else "fsst"
                      for b in range(N_BUCKETS) for ci in range(4)}
    # two losing trials (chunk indices 0 and 1), every winner trains
    assert trainings[("msg", "values")] == 2 + 2 * N_BUCKETS
    assert _block_rows(out) == _block_rows(
        _run_task_trial_every_chunk(fn, stream))


def test_cluster_by_trials_every_chunk(trainings):
    # shuffled input, clustered on k: each bucket's low-k chunks hold
    # ids (lose) and its high-k chunks prose (win)
    msg = _ids_then_prose(4000, 4000)
    perm = np.random.default_rng(2).permutation(8000)
    tbl = pa.table({"k": pa.array(perm.astype(np.int64)),
                    "msg": msg.take(pa.array(perm))})
    schema = T.StructType([T.StructField("k", T.LongType(), False),
                           T.StructField("msg", T.StringType(), False)])
    stream = _round_robin(tbl, N_BUCKETS)
    fn = make_encode_sorted_fn(schema, "r", cluster_by="k",
                               chunk_max_rows=500)
    out = _run_task(fn, stream)

    codecs = _codecs(out, "msg")
    assert len(codecs) == 4 * N_BUCKETS
    assert all(codecs[(b, 3)] == "fsst" for b in range(N_BUCKETS))
    assert all(codecs[(b, 0)] == "plain_str" for b in range(N_BUCKETS))
    assert trainings[("msg", "values")] == len(codecs)
    assert _block_rows(out) == _block_rows(
        _run_task_trial_every_chunk(fn, stream))


def test_datasource_writer_trials_every_chunk(trainings, tmp_path):
    # the DataSource writer encodes its partition (input order) as one
    # bucket: 4 losing id chunks, then 4 winning prose chunks
    from tokcodec.datasource import _WriterCore

    core = _WriterCore(MSG_SCHEMA, str(tmp_path), "r",
                       {"chunk_max_rows": "500"})
    tbl = pa.table({"msg": _ids_then_prose(2000, 2000)})
    core._write_partition(iter(tbl.to_batches(max_chunksize=700)))

    out = pa.concat_tables(
        pq.read_table(f) for f in glob.glob(
            str(tmp_path / "blocks" / "**" / "*.parquet"), recursive=True))
    codecs = _codecs(out, "msg")
    assert codecs == {(0, ci): "plain_str" if ci < 4 else "fsst"
                      for ci in range(8)}
    assert trainings[("msg", "values")] == 8


@pytest.mark.parametrize("fsst_bytes,shared", [(130, True), (100, True),
                                               (95, False)])
def test_only_clear_losses_are_shared(monkeypatch, fsst_bytes, shared):
    # a near miss (FSST smaller than plain+zstd, but not by the 10% it
    # must win by) is trialed again on the next bucket's chunk
    st = {"fsst_sample_bytes": fsst_bytes, "plain_zstd_sample_bytes": 100}
    monkeypatch.setattr(blocks, "select_str_codec",
                        lambda *a, **kw: ("plain_str", dict(st)))
    lost: set = set()
    blocks.encode_str_component(0, "msg", "values",
                                pa.array(["a", "b"]), trial_lost=lost)
    assert lost == ({("msg", "values")} if shared else set())
