"""Column-chunk block (de)serialization.

One *block* = one (column, component) of one partition-bucket:
  component "values"   — the column's scalar payload
  component "lengths"  — list-column element counts per row (tokens)
  component "validity" — bit-packed null mask, present only when the
                         chunk has nulls (reference precedent: null
                         handling is observable behavior, reference
                         impl/read/ReadReflection.java:72-95)

Lists are stored as (lengths, flattened values) — exactly the
RLE/FOR-friendly decomposition of Parquet's 3-level list shaping that
the reference emits row-by-row (reference
impl/write/CollectionsWriters.java:58-148); here it is two whole-chunk
numpy arrays instead.

An optional general-purpose outer layer (zstd via pyarrow) is applied
after the lightweight codec when it actually shrinks the payload —
mirrors the reference's pluggable compression codec
(CarpetWriter.java:160-226) where SNAPPY is applied after parquet's
lightweight encodings.
"""

from __future__ import annotations

import base64
import json
import math
import zlib

import numpy as np
import pyarrow as pa

from tokcodec.codecs.alp import alp_decode, alp_encode, alp_probe
from tokcodec.codecs.fsst import fsst_decode, fsst_encode
from tokcodec.codecs.intcodecs import decode_ints, encode_ints
from tokcodec.codecs.strcodecs import (
    STR_CODECS,
    arrow_to_strchunk,
    strchunk_to_arrow,
)
from tokcodec.selector import select_int_codec, select_str_codec

# level 1: measured same ratio as level 3 on packed payloads at 2.3x
# the speed (the lightweight codecs already removed the easy slack)
_ZSTD = pa.Codec("zstd", compression_level=1)
OUTER_MIN_GAIN = 0.97   # apply outer layer only if < 97% of inner size
_GATE_SAMPLE = 1 << 18  # for big payloads, trial-compress a sample first


def _outer_compress(payload: bytes, meta: dict) -> bytes:
    if len(payload) < 64:
        return payload
    if len(payload) > 4 * _GATE_SAMPLE:
        # cheap gate: if a sample doesn't compress, skip the full pass
        zs = _ZSTD.compress(payload[:_GATE_SAMPLE]).to_pybytes()
        if len(zs) > 0.93 * _GATE_SAMPLE:
            return payload
    z = _ZSTD.compress(payload).to_pybytes()
    if len(z) < OUTER_MIN_GAIN * len(payload):
        meta["outer"] = "zstd"
        meta["raw_size"] = len(payload)
        return z
    return payload


def _outer_decompress(payload: bytes, meta: dict) -> bytes:
    if meta.get("outer") == "zstd":
        return _ZSTD.decompress(payload, meta["raw_size"]).to_pybytes()
    return payload


def _block_row(bucket, column, component, codec, n_rows, payload, meta, orig_bytes):
    return {
        "run_id": "",   # filled by the encode stage
        "bucket": int(bucket),
        "chunk": 0,     # filled by the encode stage
        "column": column,
        "component": component,
        "codec": codec,
        "n_rows": int(n_rows),
        "payload": payload,
        "meta": json.dumps(meta, separators=(",", ":")),
        "orig_bytes": int(orig_bytes),
        "enc_bytes": int(len(payload)),
        "checksum": int(zlib.crc32(payload)),
    }


def int_sum_stat(v: np.ndarray, lo: int, hi: int) -> dict:
    """Small-materialized-aggregate (Moerkotte, VLDB'98): the chunk's
    exact value sum, stored only when |sum| provably fits int64 —
    |sum| <= n * max(|lo|, |hi|) < 2^62 — so the int64 numpy reduction
    can never have wrapped. Chunks that skip the stat (or predate it)
    simply fall off aggregate_encoded's metadata fast path onto the
    exact decode path."""
    n = len(v)
    if not n:
        return {}
    mag = max(abs(int(lo)), abs(int(hi)))
    if mag.bit_length() + (n - 1).bit_length() + 1 >= 63:
        return {}
    return {"sum": int(v.sum(dtype=np.int64))}


# ----------------------------------------------------------- int chunks
def encode_int_component(bucket, column, component, v: np.ndarray, itemsize: int,
                         codec: str | None = None) -> dict:
    """v: numpy int array in the column's native storage dtype."""
    v = np.ascontiguousarray(v)
    st = None
    if codec is None:
        codec, st = select_int_codec(v, itemsize)
    elif codec == "bitpack" and len(v) and int(v.min()) < 0:
        # the selector only offers bitpack at min >= 0; an override
        # must not silently corrupt negative values
        raise ValueError(
            f"column {column!r}: codec_override 'bitpack' requires "
            "non-negative values (use 'for' or 'plain')")
    payload, meta = encode_ints(v, codec)
    if len(v) and component.endswith("values"):
        # zone map for chunk skipping (PAPERS.md: Global Range
        # Encoding partition elimination; ≙ parquet column min/max
        # stats the reference toggles via C5)
        meta["lo"] = st["min"] if st else int(v.min())
        meta["hi"] = st["max"] if st else int(v.max())
        meta.update(int_sum_stat(v, meta["lo"], meta["hi"]))
    payload = _outer_compress(payload, meta)
    return _block_row(bucket, column, component, codec, len(v), payload, meta,
                      len(v) * itemsize)


class BlockCorruption(ValueError):
    """Stored crc32 does not match the payload (torn write / bitrot)."""


def verify_block_checksum(row) -> None:
    if int(zlib.crc32(row["payload"])) != int(row["checksum"]):
        raise BlockCorruption(
            f"checksum mismatch: column={row['column']} "
            f"component={row['component']} bucket={row['bucket']} "
            f"chunk={row['chunk']}"
        )


def decode_int_component(row, out_dtype=np.int64) -> np.ndarray:
    meta = json.loads(row["meta"])
    payload = _outer_decompress(row["payload"], meta)
    return decode_ints(payload, row["codec"], meta, row["n_rows"],
                       out_dtype=out_dtype)


# -------------------------------------------------------- string chunks
_STR_ZONE_LIMIT = 24


def _string_zone_bounds(arr: pa.Array) -> tuple[bytes | None, bytes | None,
                                                bool]:
    """(lo, hi, hi_unbounded) chunk bounds for string/binary zone maps,
    parquet's truncated-statistics semantics: lo is a prefix of the min
    (a prefix can only sort <= the full value, so it stays a valid
    lower bound); hi is the max's prefix with its last non-0xFF byte
    incremented (strictly above everything sharing the prefix). A max
    prefix of all 0xFF bytes has no finite upper bound ->
    hi_unbounded."""
    import pyarrow.compute as pc

    if len(arr) == 0 or arr.null_count == len(arr):
        return None, None, False
    mm = pc.min_max(arr)
    mn, mx = mm["min"].as_py(), mm["max"].as_py()
    if isinstance(mn, str):
        mn, mx = mn.encode("utf-8"), mx.encode("utf-8")
    lo = mn[:_STR_ZONE_LIMIT]
    if len(mx) <= _STR_ZONE_LIMIT:
        return lo, mx, False
    t = bytearray(mx[:_STR_ZONE_LIMIT])
    # bounded: walks at most _STR_ZONE_LIMIT bytes, once per chunk
    for i in range(len(t) - 1, -1, -1):
        if t[i] < 0xFF:
            t[i] += 1
            return lo, bytes(t[: i + 1]), False
    return lo, None, True


def encode_str_component(bucket, column, component, arr: pa.Array,
                         codec: str | None = None,
                         trial_lost: set | None = None) -> dict:
    """``trial_lost``: the set of (column, component) leaves whose FSST
    trial already lost on this chunk index in an earlier bucket of the
    encode task (see encode.make_encode_sorted_fn); a trial that FSST
    loses outright adds its leaf, and a leaf in the set skips the
    trial."""
    data, lengths = arrow_to_strchunk(arr)
    table = None
    if codec is None:
        leaf = (column, component)
        codec, st = select_str_codec(data, lengths, arr,
                                     skip_trial=leaf in (trial_lost or ()))
        table = st.pop("_fsst_table", None)
        # only a clear loss is shared: FSST did not shrink the sample
        # at all. A near miss sits at the decision boundary, where the
        # same chunk index of another bucket may win.
        if trial_lost is not None and codec == "plain_str" \
                and st.get("fsst_sample_bytes", -1) \
                >= st.get("plain_zstd_sample_bytes", 0):
            trial_lost.add(leaf)
    if codec == "fsst":
        payload, meta = fsst_encode(data, lengths, table=table)
    else:
        payload, meta = STR_CODECS[codec][0](data, lengths)
    if component.endswith("values"):
        # string/binary zone map (≙ parquet truncated column stats —
        # the reference gets these free from parquet-java; C5)
        lo, hi, hi_unbounded = _string_zone_bounds(arr)
        if lo is not None:
            meta["slo"] = base64.b64encode(lo).decode("ascii")
            if hi is not None:
                meta["shi"] = base64.b64encode(hi).decode("ascii")
            elif hi_unbounded:
                meta["shi_inf"] = 1
    payload = _outer_compress(payload, meta)
    lenw = int(lengths.max()).bit_length() if len(lengths) else 0
    orig = len(data) + (len(lengths) * lenw + 7) // 8
    return _block_row(bucket, column, component, codec, len(lengths), payload, meta, orig)


def decode_str_component(row, binary: bool = False) -> pa.Array:
    meta = json.loads(row["meta"])
    payload = _outer_decompress(row["payload"], meta)
    if row["codec"] == "fsst":
        data, lengths = fsst_decode(payload, meta, row["n_rows"])
    else:
        data, lengths = STR_CODECS[row["codec"]][1](payload, meta, row["n_rows"])
    return strchunk_to_arrow(data, lengths, binary=binary)


# --------------------------------------------------------- float chunks
def split_encode(v: np.ndarray) -> tuple[bytes, dict]:
    """byte-stream-split (reference C1: withByteStreamSplitEncoding,
    CarpetWriter.java:352-361): transpose byte planes so the outer
    compressor sees runs of exponent/sign bytes."""
    item = v.dtype.itemsize
    b = np.ascontiguousarray(v).view(np.uint8).reshape(-1, item).T
    return np.ascontiguousarray(b).tobytes(), {"dtype": v.dtype.str}


def split_decode(payload: bytes, meta: dict, n: int) -> np.ndarray:
    dt = np.dtype(meta["dtype"])
    planes = np.frombuffer(payload, dtype=np.uint8).reshape(dt.itemsize, n)
    return np.ascontiguousarray(planes.T).reshape(-1).view(dt)


def encode_float_component(bucket, column, component, v: np.ndarray,
                           codec: str | None = None) -> dict:
    if codec is None:
        # race alp / split / plain on a sample: alp competes only when
        # the sample says the data is decimal-shaped (exceptions are
        # pure overhead otherwise), then the smaller zstd'd sample wins
        samp = np.ascontiguousarray(v[: min(len(v), 1 << 14)])
        zp = len(_ZSTD.compress(samp.tobytes()).to_pybytes())
        sp_payload, _ = split_encode(samp)
        zs = len(_ZSTD.compress(sp_payload).to_pybytes())
        codec = "split" if zs < zp else "plain_f"
        best = min(zs, zp)
        if len(samp) and alp_probe(samp) <= 0.3:
            ap, _am = alp_encode(samp)
            za = len(_ZSTD.compress(ap).to_pybytes())
            if za < best:
                codec = "alp"
    if codec == "alp":
        payload, meta = alp_encode(v)
    elif codec == "split":
        payload, meta = split_encode(v)
    else:
        payload = np.ascontiguousarray(v).tobytes()
        meta = {"dtype": v.dtype.str}
        codec = "plain_f"
    if component.endswith("values") and len(v):
        # float zone map (parquet float column stats analogue): lets
        # range_filter prune on quality scores / probabilities — the
        # curation pipeline's float gates. NaNs are ignored (a NaN row
        # can never satisfy the >=/<= residual, so pruning on the
        # finite range stays sound); any ±inf present -> no stats
        # (chunk always survives) to keep JSON metas strictly finite.
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            flo = float(np.nanmin(v))
            fhi = float(np.nanmax(v))
        if math.isfinite(flo) and math.isfinite(fhi):
            meta["lo"] = flo
            meta["hi"] = fhi
    payload = _outer_compress(payload, meta)
    return _block_row(bucket, column, component, codec, len(v), payload, meta,
                      len(v) * v.dtype.itemsize)


def decode_float_component(row) -> np.ndarray:
    meta = json.loads(row["meta"])
    payload = _outer_decompress(row["payload"], meta)
    if row["codec"] == "alp":
        return alp_decode(payload, meta, row["n_rows"])
    if row["codec"] == "split":
        return split_decode(payload, meta, row["n_rows"])
    return np.frombuffer(payload, dtype=np.dtype(meta["dtype"]), count=row["n_rows"]).copy()
