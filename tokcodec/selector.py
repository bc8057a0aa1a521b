"""Statistics-driven codec auto-selection (the engine's only "optimizer").

Per (column, bucket) chunk: compute stats, evaluate an *exact* size
model per candidate codec (bit widths are exact given min/max/runs/card
— no guessing), pick argmin. This replaces the decision the reference
delegates to parquet-java (dictionary fallback etc., reference
CarpetWriter.java:335-385 / SURVEY.md C1) with an explicit, logged
choice (BASELINE.json north_star: "statistics-driven codec
auto-selector (cardinality, run-length histogram, value range per
column chunk)").
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from tokcodec.codecs import fsst
from tokcodec.kernels import bits_needed, snap_width
from tokcodec.stats import int_chunk_stats

_FRAME_OVERHEAD = 24  # headers per compound payload, amortized constant

# cheapest-to-encode first; a costlier codec must beat the cheaper one
# by >2% estimated size to be chosen (encode/decode CPU is part of the
# 100TB cost, not just bytes)
_COST_ORDER = ["plain", "bitpack", "for", "delta", "rle", "dict"]
_TIE_MARGIN = 0.98


def size_model_int(st: dict, itemsize: int) -> dict[str, float]:
    """Exact encoded-size (bytes) per candidate codec, from stats
    (widths snapped to the kernel's supported pack widths)."""
    n = st["n"]
    sizes = {"plain": n * itemsize}
    if st["min"] >= 0:
        sizes["bitpack"] = n * snap_width(bits_needed(st["max"])) / 8
    sizes["for"] = n * snap_width(st["width_for"]) / 8
    sizes["delta"] = n * snap_width(st["width_delta"]) / 8
    sizes["rle"] = (
        st["n_runs"] * snap_width(st["run_width_for"]) / 8
        + st["n_runs"] * snap_width(bits_needed(st["max_run_len"])) / 8
        + _FRAME_OVERHEAD
    )
    if st["card"] < n:
        code_w = snap_width(bits_needed(max(st["card"] - 1, 0)))
        sizes["dict"] = (
            st["card"] * snap_width(st["width_for"]) / 8
            + n * code_w / 8
            + _FRAME_OVERHEAD
        )
    return sizes


def select_int_codec(v: np.ndarray, itemsize: int) -> tuple[str, dict]:
    """-> (codec name, stats dict). v must be int64."""
    st = int_chunk_stats(v)
    if st["n"] == 0:
        return "plain", st
    sizes = size_model_int(st, itemsize)
    codec = min(sizes, key=sizes.get)
    # prefer the cheapest codec whose size is within the tie margin
    best = sizes[codec]
    for cand in _COST_ORDER:
        if cand in sizes and sizes[cand] * _TIE_MARGIN <= best:
            codec = cand
            break
    st["est_sizes"] = {k: round(s, 1) for k, s in sizes.items()}
    return codec, st


def select_str_codec(data: bytes, lengths: np.ndarray, arr: pa.Array,
                     skip_trial: bool = False) -> tuple[str, dict]:
    """-> (codec name, stats dict) for a string chunk.

    dict wins at low cardinality; FSST is trialed on a sample when
    cardinality is high (its ratio is not predictable from stats alone,
    so we measure — cheap: sample is capped at SAMPLE_BYTES). On a win
    the trained table rides in ``st["_fsst_table"]`` for the encoder.

    ``skip_trial``: this leaf already lost a trial outright on the same
    chunk index of an earlier bucket in the encode task (see
    encode.make_encode_sorted_fn), so a high-cardinality chunk goes to
    plain_str without training. The cardinality branch still runs per
    chunk, and wins are never reused: every FSST chunk trains its own
    table.
    """
    n = len(lengths)
    if n == 0 or len(data) == 0:
        return "plain_str", {"n": n, "total_bytes": len(data), "card": 0}
    # cardinality from a sample of values
    k = min(n, 4096)
    samp = arr.slice(0, k)
    denc = samp.dictionary_encode()
    card_s = len(denc.dictionary)
    st = {"n": n, "total_bytes": len(data), "card_sample": int(card_s)}
    len_w = bits_needed(int(lengths.max()))
    plain_size = len(data) + n * len_w / 8
    st["est_plain"] = round(plain_size, 1)
    if card_s <= max(64, 0.02 * k):
        # low cardinality: dict ≈ uniq bytes + n*log2(card)/8 — wins
        return "dict_str", st
    if skip_trial:
        return "plain_str", st
    # trial FSST vs plain on a bounded sample, both measured AFTER the
    # zstd outer layer (what actually hits disk); FSST must win by a
    # clear margin to justify its encode CPU
    zstd = pa.Codec("zstd", compression_level=1)
    samp_rows = int(np.searchsorted(np.cumsum(lengths), fsst.SAMPLE_BYTES)) + 1
    samp_rows = min(n, max(samp_rows, 256))
    s_lengths = lengths[:samp_rows]
    s_data = data[: int(s_lengths.sum())]
    buf = np.frombuffer(s_data, dtype=np.uint8)
    table = fsst.train_table(buf, fsst._segment_ends(s_lengths))
    payload, _ = fsst.fsst_encode(s_data, s_lengths, table=table)
    fsst_final = len(zstd.compress(payload).to_pybytes())
    plain_final = len(zstd.compress(s_data).to_pybytes())
    st["fsst_sample_bytes"] = int(fsst_final)
    st["plain_zstd_sample_bytes"] = int(plain_final)
    if fsst_final < 0.9 * plain_final:
        st["_fsst_table"] = table
        return "fsst", st
    return "plain_str", st
