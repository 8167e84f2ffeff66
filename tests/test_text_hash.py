"""The text-hash path of the dedup operators: MinHash signatures and SimHash
fingerprints pinned on an edge fixture against a pure-Python restatement
(normalise, split on ' ', word n-grams with the whole-text fallback, Horner
rolling hash over code points)."""

from __future__ import annotations

import random
import re

import pytest

from go_tfdata_spark.operators.dedup import _minhash_params, minhash_signatures, simhash

_MERSENNE = 2**31 - 1


def _edge_rows():
    rng = random.Random(15)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    long_doc = " ".join(rng.choice(words) for _ in range(4000))[:20_000]
    assert len(long_doc) == 20_000
    return [
        (0, None),
        (1, ""),
        (2, "\t"),
        (3, "\x0b"),
        (4, "\x0c"),
        (5, "\r\n"),
        (6, " \t \x0b\x0c\r\n  "),
        (7, "MiXeD Case WORDS here And THERE"),
        (8, "Café  é NAÏVE\tRésumé é"),
        (9, "漢字 テキスト\n漢字 文書 漢字"),
        (10, "🙂 smile 🙂🙂 ok 🙂"),
        (11, "one"),
        (12, "two  WORDS"),
        (13, "\tlead tab\x0bthen  three four"),
        (14, long_doc),
        (15, "a b c d e f g h"),
    ]


def _norm(text: str) -> str:
    return re.sub("[ \t\n\x0b\x0c\r]+", " ", text.strip(" ").lower())


def _shingles(text: str, n: int) -> list[str]:
    toks = _norm(text).split(" ")
    if len(toks) < n:
        return [_norm(text)]
    return [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]


def _roll(s: str, mod: int) -> int:
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % mod
    return acc


def _ref_minhash(text, num_hashes: int, n: int):
    params = _minhash_params(num_hashes)
    if text is None:
        return [None] * num_hashes
    xs = [_roll(s, _MERSENNE) for s in _shingles(text, n)]
    return [min((a * x + b) % _MERSENNE for x in xs) for a, b in params]


def _ref_simhash(text: str, bits: int) -> int:
    hs = [_roll(t, 2**bits) for t in _norm(text).split(" ")]
    fp = 0
    for i in range(bits):
        if sum(1 if (h >> i) & 1 else -1 for h in hs) > 0:
            fp |= 1 << i
    return fp


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(_edge_rows(), "doc_id long, text string")


@pytest.mark.parametrize("n", [1, 3, 5])
def test_minhash_signatures_pinned_on_edge_fixture(edge_docs, n):
    got = {r["doc_id"]: list(r["sig"]) for r in
           minhash_signatures(edge_docs, "doc_id", "text", num_hashes=16, n=n).collect()}
    want = {i: _ref_minhash(t, 16, n) for i, t in _edge_rows()}
    assert got == want


@pytest.mark.parametrize("bits", [16, 32, 40])
def test_simhash_pinned_on_edge_fixture(edge_docs, bits):
    got = {r["doc_id"]: r["simhash"] for r in
           simhash(edge_docs, "doc_id", "text", bits=bits).collect()}
    # NULL text has no row (the token explode of a NULL array emits none)
    want = {i: _ref_simhash(t, bits) for i, t in _edge_rows() if t is not None}
    assert got == want


def _random_text(rng: random.Random, size: int) -> str:
    alphabet = "ab z \t" + "éüß" + "漢字テ" + "🙂𝄞😀"
    return "".join(rng.choice(alphabet) for _ in range(size))


@pytest.mark.parametrize("mod", [_MERSENNE, 2**32, 2**16])
def test_substring_hashes_equal_horner(mod):
    import numpy as np

    from go_tfdata_spark.operators.dedup import _substring_hashes

    rng = random.Random(mod)
    text = _random_text(rng, 4000)
    cp = np.array([ord(c) for c in text], dtype=np.uint32)
    start = np.array([rng.randrange(len(text)) for _ in range(800)] + [0, len(text), 7])
    end = np.array([rng.randrange(s, min(len(text), s + 400) + 1) for s in start[:-3]]
                   + [len(text), len(text), 7])
    got = _substring_hashes(cp, start, end, mod)
    assert got.dtype == np.int64
    assert got.tolist() == [_roll(text[a:b], mod) for a, b in zip(start, end)]


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_spans_are_the_word_shingles(n):
    """Every span of `_spans` is a shingle of its row, in code points over
    the rows laid end to end, and in bytes over their UTF-8."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from go_tfdata_spark.operators.dedup import _code_points, _normalize, _spans, _utf8

    texts = [t for _, t in _edge_rows() if t is not None] + [_random_text(random.Random(n), 300)]
    norm = _normalize(pa.array(texts))
    flat = "".join(_norm(t) for t in texts)
    assert "".join(map(chr, _code_points(norm).tolist())) == flat
    want = [(r, s) for r, t in enumerate(texts) for s in _shingles(t, n)]
    row, start, end = _spans(norm, n)
    assert [(r, flat[a:b]) for r, a, b in zip(row, start, end)] == want
    raw = _utf8(norm).tobytes()
    row, start, end = _spans(norm, n, pc.binary_length)
    assert [(r, raw[a:b].decode()) for r, a, b in zip(row, start, end)] == want


def test_hot_document_stays_within_chunk_memory():
    """1,000 short docs around one 1M-char doc: every kernel finishes, and
    numpy's peak (numpy reports to tracemalloc) stays a small multiple of
    the largest chunk's code points, not rows x longest doc."""
    import tracemalloc

    import pyarrow as pa

    from go_tfdata_spark.operators import dedup

    rng = random.Random(7)
    words = [f"w{i}" for i in range(500)]
    short = [" ".join(rng.choice(words) for _ in range(rng.randrange(3, 30))) for _ in range(1000)]
    chunk = max(dedup._CHUNK_CHARS, 1_000_000)
    for hot in (" ".join(rng.choice(words) for _ in range(300_000))[:1_000_000],
                _random_text(rng, 1_000_000)):
        texts = short[:500] + [hot] + short[500:]
        rb = pa.RecordBatch.from_arrays(
            [pa.array(range(len(texts)), pa.int64()), pa.array(texts)], names=["id", "text"]
        )
        for kernel in (
            lambda: dedup._minhash_kernel([rb], 3, _minhash_params(16), "id"),
            lambda: dedup._simhash_kernel([rb], 32, "id"),
        ):
            tracemalloc.start()
            try:
                rows = sum(b.num_rows for b in kernel())
                peak = tracemalloc.get_traced_memory()[1]
            finally:
                tracemalloc.stop()
            assert rows == len(texts)
            assert peak < 48 * chunk, f"peak {peak / 1e6:.1f} MB"
