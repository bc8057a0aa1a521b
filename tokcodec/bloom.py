"""Per-chunk bloom filters for equality pruning on string/binary
columns (≙ reference C4: CarpetWriter bloom-filter knobs,
CarpetWriter.java:409-485 — global/per-column NDV/FPP config).

Zone maps can't prune equality predicates on high-cardinality strings
(doc_id membership for dedup/removal lists — the thing a training-data
pipeline does constantly at 100 TB). A ~10-bits/key blocked bloom per
(column, chunk) lets ``read_encoded(eq_filter=(col, value))`` skip
whole chunks with ~1% false-positive rate and zero false negatives.

Everything is vectorized: the per-value 64-bit polynomial hash runs
lockstep over byte positions (bounded at 64 bytes — truncation only
adds false positives, never false negatives), and bit setting/testing
is numpy scatter/gather. A scalar Python twin of the hash serves the
driver-side probe; equality of the two is tested property-style.
"""

from __future__ import annotations

import numpy as np

_MASK = (1 << 64) - 1
_P = 0x100000001B3            # FNV-1a prime
_SEED = 0xCBF29CE484222325    # FNV offset basis
_LEN_MIX = 0x9E3779B97F4A7C15
_G2_TWEAK = 0xD6E8FEB86659FD93
_HASH_CAP = 64                # bytes hashed per value
K = 7                         # probes (~1% FPP at 10 bits/key)
BITS_PER_KEY = 10


def polyhash_batch(data: bytes, lengths: np.ndarray) -> np.ndarray:
    """One 64-bit hash per value over the flattened (data, lengths)
    chunk layout — lockstep over byte positions, no per-value Python.
    Positions below the shortest value's length update every hash, so
    only the positions past it pay a mask."""
    b = np.frombuffer(data, dtype=np.uint8)
    lengths = np.asarray(lengths, dtype=np.int64)
    starts = np.zeros(len(lengths), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    h = np.full(len(lengths), _SEED, dtype=np.uint64)
    cap = int(min(lengths.max(), _HASH_CAP)) if len(lengths) else 0
    every = min(int(lengths.min()), cap) if len(lengths) else 0
    p = np.uint64(_P)
    for pos in range(every):
        h *= p
        h ^= b[starts + pos]
    for pos in range(every, cap):
        m = lengths > pos
        h[m] = (h[m] * p) ^ b[starts[m] + pos].astype(np.uint64)
    h ^= lengths.astype(np.uint64) * np.uint64(_LEN_MIX)
    return h


def polyhash_one(value: bytes) -> int:
    """Scalar twin of polyhash_batch (driver-side probe)."""
    h = _SEED
    for byte in value[:_HASH_CAP]:
        h = (((h * _P) & _MASK) ^ byte) & _MASK
    return (h ^ ((len(value) * _LEN_MIX) & _MASK)) & _MASK


def mix64(z: int) -> int:
    """splitmix64 finalizer (public-domain constants)."""
    z &= _MASK
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK
    return (z ^ (z >> 31)) & _MASK


def _mix64_np(z: np.ndarray) -> np.ndarray:
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def bloom_build(data: bytes, lengths: np.ndarray) -> tuple[bytes, int]:
    """Chunk bloom: returns (bit bytes, m_bits). m is a power of two
    sized at ~BITS_PER_KEY bits per value."""
    return bloom_bits(polyhash_batch(data, np.asarray(lengths)),
                      len(lengths))


def bloom_bits(h: np.ndarray, n: int) -> tuple[bytes, int]:
    """(bit bytes, m_bits) of the bloom over the polyhash values ``h``,
    sized for ``n`` keys: m is a power of two of ~BITS_PER_KEY bits per
    key. Bits are set by one boolean scatter per probe and packed
    least-significant bit first (bit i of the filter is bit i & 7 of
    byte i >> 3, the order bloom_might_contain tests)."""
    m = 1 << max(6, (BITS_PER_KEY * max(n, 1) - 1).bit_length())
    g1 = _mix64_np(h)
    g2 = _mix64_np(h ^ np.uint64(_G2_TWEAK)) | np.uint64(1)
    flags = np.zeros(m, dtype=bool)
    for j in range(K):
        flags[((g1 + np.uint64(j) * g2) & np.uint64(m - 1))
              .astype(np.intp)] = True
    return np.packbits(flags, bitorder="little").tobytes(), m


def file_bloom(hashes) -> bytes:
    """One bloom over the polyhash arrays ``hashes`` of a block file's
    chunk blooms (the hashes the chunk blooms were built from, so
    nothing is hashed twice), sized at BITS_PER_KEY per distinct
    value in the file. Chunk blooms are sized per chunk, so they
    cannot be OR-ed into one."""
    h = np.unique(np.concatenate(hashes))
    return bloom_bits(h, len(h))[0]


def bloom_params(value: bytes) -> tuple[int, int]:
    """(g1, g2) double-hashing parameters for one probe value."""
    h = polyhash_one(value)
    return mix64(h), mix64(h ^ _G2_TWEAK) | 1


def bloom_might_contain(bits: bytes, g1: int, g2: int) -> bool:
    """Scalar probe of one chunk's bloom (m = len(bits) * 8)."""
    m = len(bits) * 8
    for j in range(K):
        idx = (g1 + j * g2) % m
        if not (bits[idx >> 3] >> (idx & 7)) & 1:
            return False
    return True


def bloom_block_row(bucket: int, column: str, arr,
                    hashes: list | None = None) -> dict:
    """Block row (component='bloom') for one string/binary chunk.
    orig_bytes=0: the bloom is index overhead, so it inflates enc_bytes
    in the lineage ratio without claiming input bytes. ``hashes``: a
    list that receives the chunk's polyhash array (the block writer's
    file bloom is built from it; file_bloom)."""
    import json
    import zlib

    from tokcodec.codecs.strcodecs import arrow_to_strchunk

    data, lengths = arrow_to_strchunk(arr)
    h = polyhash_batch(data, lengths)
    if hashes is not None:
        hashes.append(h)
    payload, m = bloom_bits(h, len(lengths))
    return {
        "run_id": "", "bucket": int(bucket), "chunk": 0,
        "column": column, "component": "bloom", "codec": "bloom64",
        "n_rows": int(len(lengths)), "payload": payload,
        "meta": json.dumps({"m": m, "k": K}, separators=(",", ":")),
        "orig_bytes": 0, "enc_bytes": len(payload),
        "checksum": int(zlib.crc32(payload)),
    }


def element_probe_bytes(value) -> bytes:
    """Probe-side byte encoding of ONE array element — must match
    bloom_block_row_elements' per-element encoding exactly (str/bytes
    raw, ints as 8-byte little-endian signed int64)."""
    if isinstance(value, str):
        return value.encode("utf-8")
    if isinstance(value, (bytes, bytearray)):
        return bytes(value)
    return int(value).to_bytes(8, "little", signed=True)


def bloom_block_row_elements(bucket: int, column: str, arr,
                             hashes: list | None = None) -> dict:
    """Block row (component='bloom') over the DISTINCT ELEMENTS of an
    array column's chunk — the 'which chunks contain token X'
    membership index behind ``contains_filter`` pushdown (the
    contamination-scan shape: find every sequence containing a given
    token/id at 100 TB without decoding the rest). Parquet has no
    analogue; the reference's bloom knobs (CarpetWriter.java:409-485)
    cover scalar columns only.

    Sized by the chunk's DISTINCT-element count, not total elements
    (a 64k-row x 1k-token chunk holds ~50k distinct vocab entries,
    not 64M) — pyarrow unique over the flattened values, then the
    same blocked-bloom build as scalar columns. Int-lane elements
    hash their 8-byte little-endian int64 encoding; string/binary
    elements hash raw bytes (element_probe_bytes is the probe twin).
    ``hashes``: as for bloom_block_row.
    """
    import json
    import zlib

    import pyarrow as pa
    import pyarrow.compute as pc

    flat = arr.flatten()
    if flat.null_count:
        flat = flat.drop_null()
    uniq = pc.unique(flat)
    n_rows = len(arr)
    if pa.types.is_integer(uniq.type):
        v = uniq.cast(pa.int64()).to_numpy(zero_copy_only=False)
        v = np.ascontiguousarray(v, dtype="<i8")
        data = v.tobytes()
        lengths = np.full(len(v), 8, dtype=np.int64)
    else:
        from tokcodec.codecs.strcodecs import arrow_to_strchunk

        data, lengths = arrow_to_strchunk(uniq)
    h = polyhash_batch(data, lengths)
    if hashes is not None:
        hashes.append(h)
    payload, m = bloom_bits(h, len(lengths))
    return {
        "run_id": "", "bucket": int(bucket), "chunk": 0,
        "column": column, "component": "bloom", "codec": "bloom64",
        "n_rows": int(n_rows), "payload": payload,
        "meta": json.dumps({"m": m, "k": K, "elem": 1},
                           separators=(",", ":")),
        "orig_bytes": 0, "enc_bytes": len(payload),
        "checksum": int(zlib.crc32(payload)),
    }


def bloom_test_arrow(payloads, g1: int, g2: int) -> np.ndarray:
    """Vectorized membership test of ONE value against MANY chunk
    blooms (an Arrow binary array of bloom payloads) -> bool per chunk.
    Used executor-side by the eq_filter pruning pass."""
    import pyarrow as pa

    payloads = (payloads.combine_chunks()
                if isinstance(payloads, pa.ChunkedArray) else payloads)
    n = len(payloads)
    if n == 0:
        return np.zeros(0, dtype=bool)
    offs = np.frombuffer(payloads.buffers()[1], dtype=np.int32,
                         count=n + 1 + payloads.offset)[payloads.offset:]
    offs = offs.astype(np.int64)
    buf = payloads.buffers()[2]
    data = (np.frombuffer(buf, dtype=np.uint8) if buf is not None
            else np.zeros(0, dtype=np.uint8))
    m = (offs[1:] - offs[:-1]) * 8  # per-chunk bit count (power of two)
    hit = m > 0
    for j in range(K):
        probe = (g1 + j * g2) & _MASK  # python-int wraparound
        pos = (np.uint64(probe) & (m.astype(np.uint64) - np.uint64(1)))
        pos = pos.astype(np.int64)
        byte_i = offs[:-1] + (pos >> 3)
        byte_i = np.where(hit, byte_i, 0)  # keep gather in-bounds
        bitv = (data[byte_i] >> (pos & 7).astype(np.uint8)) & 1
        hit &= bitv.astype(bool)
    return hit
