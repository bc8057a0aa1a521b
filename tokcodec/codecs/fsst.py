"""FSST-style string compression, from scratch, fully vectorized.

FSST (Boncz, Neumann, Leis — "FSST: Fast Random Access String
Compression", VLDB 2020; see /root/repo/PAPERS.md) replaces frequent
substrings (1..8 bytes) with 1-byte codes from a table of <= 255
learned symbols; bytes not covered by a symbol are emitted as an
escape. Random access is preserved because every code is 1 byte and
lengths are stored separately.

This implementation:
- trains the symbol table bottom-up (BPE-style symbol merging over a
  sample, which is the same fixed-point iteration the paper uses),
- encodes with a longest-match scan vectorized across *segments*
  (strings, capped at 4 KiB) walked in lockstep — per iteration one
  numpy gather over all active segments, never per-byte Python,
- keeps escaped literals in a side stream so decode needs no
  sequential escape-parity scan.

Wire format (framed by caller): codes stream (1 byte/token), literal
side stream, symbol table (symbol bytes + uint8 lengths).
"""

from __future__ import annotations

import numpy as np

from tokcodec.codecs.intcodecs import bitpack_decode, bitpack_encode
from tokcodec.kernels import pack_frames, unpack_frames

ESCAPE = 255          # code meaning "next byte from literal side stream"
MAX_SYMBOLS = 255     # codes 0..254
MAX_LEN = 8
SEG_CAP = 4096        # split very long strings; matches may not cross
SAMPLE_BYTES = 1 << 16
TRAIN_ITERS = 4

_POW = (np.uint64(256) ** np.arange(7, -1, -1).astype(np.uint64)).astype(np.uint64)


def _rolling8(buf: np.ndarray) -> np.ndarray:
    """uint64 big-endian value of buf[p:p+8] (zero padded) per position."""
    n = len(buf)
    pad = np.zeros(n + 8, dtype=np.uint8)
    pad[:n] = buf
    r = np.zeros(n, dtype=np.uint64)
    for i in range(8):
        r |= pad[i : n + i].astype(np.uint64) << np.uint64(8 * (7 - i))
    return r


class SymbolTable:
    """codes 0..len(symbols)-1 map to byte strings of length 1..8."""

    def __init__(self, symbols: list[bytes]):
        assert len(symbols) <= MAX_SYMBOLS
        self.symbols = symbols
        self.sym_lens = np.array([len(s) for s in symbols], dtype=np.int64)
        # per length L: sorted uint64 of the L bytes, and their codes
        self.by_len: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        for L in range(1, MAX_LEN + 1):
            idx = [i for i, s in enumerate(symbols) if len(s) == L]
            if not idx:
                continue
            vals = np.array(
                [int.from_bytes(symbols[i], "big") for i in idx], dtype=np.uint64
            )
            order = np.argsort(vals)
            self.by_len[L] = (vals[order], np.array(idx, dtype=np.int64)[order])

    def serialize(self) -> tuple[bytes, bytes]:
        return b"".join(self.symbols), self.sym_lens.astype(np.uint8).tobytes()

    @staticmethod
    def deserialize(symdata: bytes, lens: bytes) -> "SymbolTable":
        ls = np.frombuffer(lens, dtype=np.uint8)
        offs = np.zeros(len(ls) + 1, dtype=np.int64)
        np.cumsum(ls, out=offs[1:])
        # bounded loop: at most 255 symbols, never per-row
        return SymbolTable([symdata[offs[i] : offs[i + 1]] for i in range(len(ls))])


def _segment_ends(lengths: np.ndarray) -> np.ndarray:
    """String byte-lengths -> segment end offsets (strings split at SEG_CAP).

    A string of length L is max(1, ceil(L / SEG_CAP)) segments: full
    SEG_CAP segments then the remainder (an empty string is one empty
    segment)."""
    lengths = np.asarray(lengths, dtype=np.int64)
    if not (lengths > SEG_CAP).any():
        return np.cumsum(lengths)
    nseg = np.maximum(1, -(-lengths // SEG_CAP))
    seg_len = np.full(int(nseg.sum()), SEG_CAP, dtype=np.int64)
    seg_len[np.cumsum(nseg) - 1] = lengths - (nseg - 1) * SEG_CAP
    return np.cumsum(seg_len)


def _lut1(table: SymbolTable) -> np.ndarray:
    """256-entry direct lookup for length-1 symbols (code or ESCAPE)."""
    lut = np.full(256, ESCAPE, dtype=np.int64)
    if 1 in table.by_len:
        vals, codes = table.by_len[1]
        lut[vals.astype(np.int64)] = codes
    return lut


def fsst_compress(buf: np.ndarray, seg_ends: np.ndarray, table: SymbolTable):
    """-> (codes uint8 array, literals uint8 array).

    Lockstep longest-match walk: one round per token DEPTH — every
    round gathers the rolling-8 keys of all segments' CURRENT positions
    and resolves their longest match together, so total work is
    O(tokens x lengths-present), not O(bytes x lengths) (the first cut
    resolved matches at every byte position; at ~4 bytes/token that
    was ~4x the lookups plus full-buffer temporaries — measured
    0.9 -> ~4 MB/s on the vocab corpus this rewrite targets)."""
    n = len(buf)
    if n == 0:
        return np.zeros(0, dtype=np.uint8), np.zeros(0, dtype=np.uint8)
    r8 = _rolling8(buf)
    lut1 = _lut1(table)
    multi = [(L, table.by_len[L][0], table.by_len[L][1])
             for L in sorted(table.by_len) if L > 1]  # ascending
    starts = np.concatenate([[0], seg_ends[:-1]]).astype(np.int64)
    pos = starts.copy()
    ends = seg_ends.astype(np.int64)
    # codes written BY POSITION: token starts ascend within a segment
    # and segments are laid out in buffer order, so flatnonzero(emitted)
    # recovers stream order with no sort
    code_at = np.zeros(n, dtype=np.uint8)
    emitted = np.zeros(n, dtype=bool)
    ai = np.flatnonzero(pos < ends)
    while ai.size:
        p = pos[ai]
        d = ends[ai] - p
        k = r8[p]
        blen = np.ones(len(p), dtype=np.int64)
        bcode = lut1[buf[p]]
        for L, vals, codes in multi:  # ascending: longer overrides
            keys = k >> np.uint64(8 * (8 - L))
            ix = np.searchsorted(vals, keys)
            ix[ix == len(vals)] = 0
            hit = (vals[ix] == keys) & (d >= L)
            blen[hit] = L
            bcode[hit] = codes[ix[hit]]
        emitted[p] = True
        code_at[p] = bcode
        np2 = p + blen
        pos[ai] = np2
        ai = ai[np2 < ends[ai]]
    tok = np.flatnonzero(emitted)
    codes = code_at[tok]
    literals = buf[tok[codes == ESCAPE]]
    return codes, literals


def fsst_decompress(codes: np.ndarray, literals: np.ndarray, table: SymbolTable) -> bytes:
    c = codes.astype(np.int64)
    is_esc = c == ESCAPE
    ext_lens = np.array(
        [len(s) for s in table.symbols] + [1] * (256 - len(table.symbols)),
        dtype=np.int64,
    )
    symdata, _ = table.serialize()
    # escape pseudo-symbol: length 1 pointing at a scratch byte
    flat = np.frombuffer(symdata + b"\x00", dtype=np.uint8)
    sym_offs = np.zeros(257, dtype=np.int64)
    np.cumsum(ext_lens, out=sym_offs[1:])
    sym_offs[len(table.symbols) : 256] = len(symdata)  # escapes -> scratch byte
    out_lens = ext_lens[c]
    total = int(out_lens.sum())
    out_offs = np.zeros(len(c) + 1, dtype=np.int64)
    np.cumsum(out_lens, out=out_offs[1:])
    pos_in_tok = np.arange(total, dtype=np.int64) - np.repeat(out_offs[:-1], out_lens)
    src = np.repeat(sym_offs[c], out_lens) + pos_in_tok
    out = flat[src].copy()
    if is_esc.any():
        out[out_offs[:-1][is_esc]] = literals
    return out.tobytes()


# --------------------------------------------------------------- training
def _sample(buf: np.ndarray, seg_ends: np.ndarray):
    if len(buf) <= SAMPLE_BYTES:
        return buf, seg_ends
    # take whole leading segments up to SAMPLE_BYTES, plus a stride of
    # later segments for representativeness
    k = int(np.searchsorted(seg_ends, SAMPLE_BYTES))
    k = max(k, 1)
    stride = max(1, len(seg_ends) // max(k, 1) // 2)
    picked = sorted(set(range(k)) | set(range(k, len(seg_ends), stride * 4)))
    starts = np.concatenate([[0], seg_ends[:-1]]).astype(np.int64)
    parts, ends, pos = [], [], 0
    for i in picked:
        seg = buf[starts[i] : seg_ends[i]]
        parts.append(seg)
        pos += len(seg)
        ends.append(pos)
        if pos >= SAMPLE_BYTES:
            break
    return np.concatenate(parts), np.array(ends, dtype=np.int64)


def train_table(buf: np.ndarray, seg_ends: np.ndarray) -> SymbolTable:
    """Bottom-up symbol merging (the FSST fixed-point iteration):
    start from single bytes, repeatedly encode the sample and merge the
    most profitable adjacent symbol pairs into longer symbols."""
    sbuf, sends = _sample(buf, seg_ends)
    if len(sbuf) == 0:
        return SymbolTable([bytes([i]) for i in range(min(MAX_SYMBOLS, 1))])
    uniq, counts = np.unique(sbuf, return_counts=True)
    order = np.argsort(-counts)
    singles = [bytes([int(b)]) for b in uniq[order]]
    table = SymbolTable(singles[:MAX_SYMBOLS])
    for _ in range(TRAIN_ITERS):
        codes, _lits = fsst_compress(sbuf, sends, table)
        c = codes.astype(np.int64)
        n_codes = len(table.symbols)
        # usage gain per existing symbol: count * (len-1)
        use = np.bincount(c[c < n_codes], minlength=n_codes)
        gain_existing = use * np.maximum(table.sym_lens - 1, 0)
        # candidate merges: adjacent token pairs with combined len <= 8
        if len(c) >= 2:
            a, b = c[:-1], c[1:]
            ok = (a < n_codes) & (b < n_codes)
            la = table.sym_lens[np.clip(a, 0, n_codes - 1)]
            lb = table.sym_lens[np.clip(b, 0, n_codes - 1)]
            ok &= (la + lb) <= MAX_LEN
            pair_key = a[ok] * 256 + b[ok]
            pk, pc = np.unique(pair_key, return_counts=True)
            pa, pb = pk // 256, pk % 256
            pair_gain = pc * (table.sym_lens[pa] + table.sym_lens[pb] - 1)
        else:
            pk = np.zeros(0, dtype=np.int64)
            pa = pb = pair_gain = pk
        # build next table: keep single bytes (escape avoidance), rank
        # multi-byte symbols + new merges by gain
        cand: dict[bytes, int] = {}
        for i, s in enumerate(table.symbols):
            if len(s) > 1:
                cand[s] = max(cand.get(s, 0), int(gain_existing[i]))
        if len(pk):
            top = np.argsort(-pair_gain)[: MAX_SYMBOLS * 2]
            for j in top:
                s = table.symbols[int(pa[j])] + table.symbols[int(pb[j])]
                cand[s] = max(cand.get(s, 0), int(pair_gain[j]))
        n_single = min(len(singles), MAX_SYMBOLS)
        budget = MAX_SYMBOLS - n_single
        multi = sorted(cand.items(), key=lambda kv: -kv[1])[:budget]
        table = SymbolTable(singles[:n_single] + [s for s, _ in multi])
    return table


# ------------------------------------------------------------ codec API
def fsst_encode(data: bytes, lengths: np.ndarray,
                table: SymbolTable | None = None) -> tuple[bytes, dict]:
    buf = np.frombuffer(data, dtype=np.uint8)
    seg_ends = _segment_ends(np.asarray(lengths, dtype=np.int64))
    if table is None:
        table = train_table(buf, seg_ends)
    codes, literals = fsst_compress(buf, seg_ends, table)
    symdata, symlens = table.serialize()
    lp, lm = bitpack_encode(np.asarray(lengths, dtype=np.int64))
    payload = pack_frames(
        [codes.tobytes(), literals.tobytes(), symdata, symlens, lp]
    )
    return payload, {
        "n_codes": int(len(codes)),
        "n_lit": int(len(literals)),
        "lengths": lm,
    }


def fsst_decode(payload: bytes, meta: dict, n: int) -> tuple[bytes, np.ndarray]:
    codes_b, lits_b, symdata, symlens, lp = unpack_frames(payload)
    table = SymbolTable.deserialize(symdata, symlens)
    codes = np.frombuffer(codes_b, dtype=np.uint8)
    literals = np.frombuffer(lits_b, dtype=np.uint8)
    data = fsst_decompress(codes, literals, table)
    lengths = bitpack_decode(lp, meta["lengths"], n)
    return data, lengths
