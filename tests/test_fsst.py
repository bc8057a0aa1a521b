import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st

from tokcodec.codecs.fsst import (
    SEG_CAP,
    SymbolTable,
    _segment_ends,
    fsst_compress,
    fsst_decode,
    fsst_decompress,
    fsst_encode,
    train_table,
)
from tokcodec.codecs.strcodecs import arrow_to_strchunk, strchunk_to_arrow


def _chunk(strings):
    return arrow_to_strchunk(pa.array(strings, pa.string()))


def _roundtrip(strings):
    data, lengths = _chunk(strings)
    payload, meta = fsst_encode(data, lengths)
    d2, l2 = fsst_decode(payload, meta, len(lengths))
    assert strchunk_to_arrow(d2, l2).to_pylist() == strings
    return payload, data


def test_empty():
    _roundtrip([])
    _roundtrip(["", "", ""])


def test_basic():
    _roundtrip(["hello world", "hello there", "world of hello"])


def test_doc_ids_compress():
    strings = [f"web-{i:010d}-{(i * 2654435761) % 2**32:08x}" for i in range(20000)]
    payload, data = _roundtrip(strings)
    # shared structure should compress well below raw utf8 size
    assert len(payload) < 0.7 * len(data)


def test_urls_compress():
    strings = [
        f"https://example.com/products/category-{i % 50}/item?id={i}&ref=homepage"
        for i in range(5000)
    ]
    payload, data = _roundtrip(strings)
    assert len(payload) < 0.55 * len(data)


def test_binary_ish_bytes_with_escape_values():
    # strings containing byte 255 in utf8 (multi-byte chars) and rare bytes
    strings = ["ÿþ" * 10, "ÿÿÿ", "abcÿ", ""]
    _roundtrip(strings * 100)


def test_long_string_segments():
    # > SEG_CAP forces segment splitting
    strings = ["abcdefgh" * 2000, "x" * 5000, "short"]
    _roundtrip(strings)


def _segment_ends_loop(lengths):
    """The original per-string loop, kept as the reference."""
    if not (lengths > SEG_CAP).any():
        return np.cumsum(lengths)
    segs = []
    pos = 0
    for ln in lengths:
        ln = int(ln)
        while ln > SEG_CAP:
            pos += SEG_CAP
            segs.append(pos)
            ln -= SEG_CAP
        pos += ln
        segs.append(pos)
    return np.array(segs, dtype=np.int64)


@pytest.mark.parametrize("lengths", [
    [],
    [0],
    [4096],
    [4097],
    [3 * 4096 + 5],
    [0, 4096, 4097, 3 * 4096 + 5, 0, 1, 8192, 8193, 0],
    [4097, 0, 0, 4096, 12],
])
def test_segment_ends_matches_loop(lengths):
    lengths = np.array(lengths, dtype=np.int64)
    got = _segment_ends(lengths)
    want = _segment_ends_loop(lengths)
    assert got.dtype == want.dtype
    np.testing.assert_array_equal(got, want)


def test_segment_ends_matches_loop_random():
    rng = np.random.default_rng(11)
    specials = np.array([0, 1, 4095, 4096, 4097, 3 * 4096 + 5, 8192, 8193])
    for trial in range(50):
        n = int(rng.integers(1, 400))
        lengths = np.where(rng.random(n) < 0.3,
                           rng.choice(specials, n),
                           rng.integers(0, 5 * SEG_CAP, n)).astype(np.int64)
        np.testing.assert_array_equal(_segment_ends(lengths),
                                      _segment_ends_loop(lengths))


def test_symbol_table_serialization():
    t = SymbolTable([b"a", b"bc", b"hello", b"\xff\x00"])
    symdata, lens = t.serialize()
    t2 = SymbolTable.deserialize(symdata, lens)
    assert t2.symbols == t.symbols


def test_compress_decompress_direct():
    corpus = b"the quick brown fox jumps over the lazy dog " * 100
    buf = np.frombuffer(corpus, dtype=np.uint8)
    ends = np.array([len(buf)], dtype=np.int64)
    table = train_table(buf, ends)
    codes, lits = fsst_compress(buf, ends, table)
    assert fsst_decompress(codes, lits, table) == corpus
    assert len(codes) + len(lits) < 0.5 * len(corpus)


@given(st.lists(st.text(max_size=80), max_size=60))
@settings(max_examples=40, deadline=None)
def test_roundtrip_property(strings):
    _roundtrip(strings)
