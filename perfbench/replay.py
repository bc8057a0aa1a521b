"""Spark-free layer replay on one core.

Cuts bucket-sized chunks from the workload's own generated rows and
times the engine's public per-chunk functions on them: chunk stats,
codec selection, every candidate codec, the blocks layer (outer zstd
and crc), bloom builds, and the whole per-bucket encode and decode
functions. Every decode is checked against its input. The same chunks
give ``selector.regret``: the chosen codec's final bytes over the
smallest candidate's final bytes, after the outer layer.
"""

from __future__ import annotations

import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

INT_CODECS = ["plain", "bitpack", "for", "delta", "rle", "dict"]
STR_CODECS = ["plain_str", "dict_str", "fsst"]
MAX_CHUNKS = 4


class Clock:
    """Accumulates seconds and bytes or values per named counter, and
    keeps one span per timed call."""

    def __init__(self):
        self.s: dict[str, float] = {}
        self.n: dict[str, float] = {}
        self.spans: list[dict] = []

    def time(self, name: str, fn, *args, work: float = 0, **kw):
        t0 = time.perf_counter()
        out = fn(*args, **kw)
        dt = time.perf_counter() - t0
        self.s[name] = self.s.get(name, 0.0) + dt
        self.n[name] = self.n.get(name, 0.0) + work
        self.spans.append({"name": name, "ms": dt * 1e3, "work": work})
        return out

    def rate(self, name: str) -> float:
        """work per second (0 when the counter never ran)."""
        return self.n.get(name, 0.0) / self.s[name] if self.s.get(name) else 0.0

    def ms_per(self, name: str, work: float) -> float:
        return self.s.get(name, 0.0) * 1e3 / work if work else 0.0


def _chunks(tbl: pa.Table, n_buckets: int) -> list[pa.Table]:
    step = -(-tbl.num_rows // n_buckets)
    return [tbl.slice(i * step, step).combine_chunks()
            for i in range(min(MAX_CHUNKS, n_buckets))]


def _check(ok: bool, what: str) -> None:
    if not ok:
        raise AssertionError(f"replay round trip failed: {what}")


def replay(tbl: pa.Table, n_buckets: int, bloom_columns=()) -> tuple[dict, list]:
    """-> (per-layer metrics, spans)."""
    from tokcodec import blocks, bloom, selector, stats
    from tokcodec.codecs import fsst, intcodecs, strcodecs
    from tokcodec.decode import make_decode_fn
    from tokcodec.encode import METRICS_COLUMN, make_encode_fn
    from tokcodec.schema import SEQ_SCHEMA

    c = Clock()
    int_vals = str_vals = 0
    n_tokens = 0
    tried = kept = 0
    chosen_bytes = best_bytes = 0
    trials = trial_wins = 0
    str_fn = {**strcodecs.STR_CODECS, "fsst": (fsst.fsst_encode, fsst.fsst_decode)}
    for chunk in _chunks(tbl, n_buckets):
        toks = chunk.column("tokens").chunk(0)
        flat = toks.flatten()  # .values would ignore the slice
        n_tokens += len(flat)
        lanes = [("tokens", flat.to_numpy()),
                 ("n_tok", chunk.column("n_tok").chunk(0).to_numpy())]
        for name, v in lanes:
            int_vals += len(v)
            c.time("stats", stats.int_chunk_stats, v, work=len(v))
            codec, _ = c.time("select", selector.select_int_codec, v, 4,
                              work=len(v))
            finals = {}
            for k in INT_CODECS:
                if k == "bitpack" and v.min() < 0:
                    continue
                payload, meta = c.time(f"enc.{k}", intcodecs.encode_ints, v, k,
                                       work=v.nbytes)
                back = c.time(f"dec.{k}", intcodecs.decode_ints, payload, k,
                              meta, len(v), out_dtype=v.dtype, work=v.nbytes)
                _check(np.array_equal(back, v), f"{name} {k}")
                row = c.time("blocks.enc", blocks.encode_int_component, 0,
                             name, "values", v, 4, codec=k, work=len(v))
                c.time("crc", zlib.crc32, row["payload"], work=len(v))
                back = c.time("blocks.dec", blocks.decode_int_component, row,
                              out_dtype=v.dtype, work=len(v))
                _check(np.array_equal(back, v), f"{name} {k} block")
                tried += len(payload) >= 64
                kept += '"outer"' in row["meta"]
                finals[k] = row["enc_bytes"]
            chosen_bytes += finals[codec]
            best_bytes += min(finals.values())
        for name in ("doc_id", "source"):
            arr = chunk.column(name).chunk(0)
            data, lengths = strcodecs.arrow_to_strchunk(arr)
            str_vals += len(arr)
            codec, st = c.time("select", selector.select_str_codec, data,
                               lengths, arr, work=len(arr))
            if "fsst_sample_bytes" in st:
                trials += 1
                trial_wins += codec == "fsst"
            finals = {}
            for k in STR_CODECS:
                enc, dec = str_fn[k]
                payload, meta = c.time(f"enc.{k}", enc, data, lengths,
                                       work=len(data))
                out, out_len = c.time(f"dec.{k}", dec, payload, meta,
                                      len(arr), work=len(data))
                _check(bytes(out) == data and np.array_equal(out_len, lengths),
                       f"{name} {k}")
                row = blocks.encode_str_component(0, name, "values", arr,
                                                  codec=k)
                finals[k] = row["enc_bytes"]
            chosen_bytes += finals[codec]
            best_bytes += min(finals.values())
        if "tokens" in bloom_columns:
            c.time("bloom", bloom.bloom_block_row_elements, 0, "tokens", toks,
                   work=len(flat))
        if "doc_id" in bloom_columns:
            c.time("bloom", bloom.bloom_block_row, 0, "doc_id",
                   chunk.column("doc_id").chunk(0))
        enc_fn = make_encode_fn(SEQ_SCHEMA, "replay",
                                bloom_columns=tuple(bloom_columns))
        blk = c.time("encode_fn", enc_fn, (0,), chunk, work=len(flat))
        data_rows = pc.and_(pc.not_equal(blk.column("column"), METRICS_COLUMN),
                            pc.not_equal(blk.column("component"), "bloom"))
        blk = blk.filter(data_rows)
        out = c.time("decode_fn", make_decode_fn(SEQ_SCHEMA), (0,), blk,
                     work=len(flat))
        _check(out.equals(chunk.cast(out.schema)), "make_decode_fn")

    # the blocks layer's own time: its public calls minus the codec
    # calls they wrap (timed separately on the same values) and crc
    mtok_int = int_vals / 1e6
    codec_s = {d: sum(c.s.get(f"{d}.{k}", 0.0) for k in INT_CODECS)
               for d in ("enc", "dec")}
    zstd_ms = max(0.0, c.s["blocks.enc"] - codec_s["enc"] - c.s["crc"]) * 1e3
    unzstd_ms = max(0.0, c.s["blocks.dec"] - codec_s["dec"]) * 1e3
    m = {
        "encode.bucket_mtok_s": c.rate("encode_fn") / 1e6,
        "decode.bucket_mtok_s": c.rate("decode_fn") / 1e6,
        "stats.ms_per_mtok": c.ms_per("stats", mtok_int),
        "selector.ms_per_mtok": c.ms_per("select", (int_vals + str_vals) / 1e6),
        "selector.fsst_trial_waste": (trials - trial_wins) / trials if trials else 0.0,
        "selector.regret": chosen_bytes / best_bytes,
        # both blocks figures cover every candidate codec's payload, so
        # they are per million values per candidate
        "blocks.zstd_ms_per_mtok": zstd_ms / len(INT_CODECS) / mtok_int,
        "blocks.zstd_kept_frac": kept / tried if tried else 0.0,
        "blocks.crc_ms_per_mtok": c.ms_per("crc", mtok_int * len(INT_CODECS)),
        "blocks.unzstd_ms_per_mtok": unzstd_ms / len(INT_CODECS) / mtok_int,
        "bloom.build_ms_per_mtok": c.ms_per("bloom", n_tokens / 1e6),
    }
    for k in INT_CODECS + STR_CODECS:
        m[f"codecs.{k}.enc_mb_s"] = c.rate(f"enc.{k}") / 1e6
        m[f"codecs.{k}.dec_mb_s"] = c.rate(f"dec.{k}") / 1e6
    return m, c.spans
