"""The batched MinHash kernel against a frozen copy of the scalar formula.

perfbench replays dedup verdicts from signatures cached in its input pool,
and the pool is keyed on the generator's sources only: a kernel whose
signatures or band keys moved by one bit would be compared against stale
values. So `minhash_batch` must equal, bit for bit, the per-shingle
formula below (the kernel as it was before batching).
"""

import hashlib
import re
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pdf_to_text_spark.kernels import textstats
from pdf_to_text_spark.kernels.textstats import (
    minhash_bands,
    minhash_batch,
    minhash_signature,
    word_shingles,
)

# ── frozen scalar reference ─────────────────────────────────────────────────

_P = (1 << 61) - 1


def _u64(data: bytes, seed: int = 0) -> int:
    h = hashlib.blake2b(data, digest_size=8, person=struct.pack("<q", seed))
    return struct.unpack("<Q", h.digest())[0]


def _ref_shingles(text: str, k: int) -> set:
    words = re.sub(r"[^0-9a-z]+", " ", text.lower()).strip().split()
    if len(words) < k:
        return {(" ".join(words)).encode()} if words else set()
    return {" ".join(words[i : i + k]).encode() for i in range(len(words) - k + 1)}


def _ref_signature(text: str, n_perm: int = 64, k: int = 5) -> np.ndarray:
    rng = np.random.RandomState(0x5EED)
    a = rng.randint(1, _P, size=n_perm, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _P, size=n_perm, dtype=np.int64).astype(np.uint64)
    shingles = _ref_shingles(text, k)
    if not shingles:
        return np.full(n_perm, np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
    base = np.fromiter((_u64(s) % _P for s in shingles), dtype=np.uint64, count=len(shingles))
    return ((base[:, None] * a[None, :] + b[None, :]) % np.uint64(_P)).min(axis=0)


def _ref_bands(sig: np.ndarray, n_bands: int = 16) -> list:
    r = len(sig) // n_bands
    return [
        _u64(sig[bi * r : (bi + 1) * r].tobytes(), seed=bi + 1) & 0x7FFFFFFFFFFFFFFF
        for bi in range(n_bands)
    ]


def _ref_fingerprint(text: str) -> str:
    return hashlib.md5(re.sub(r"[^0-9a-z]+", " ", text.lower()).strip().encode()).hexdigest()


def _assert_identical(texts, n_perm=64, n_bands=16, k=5):
    sigs, bands, fps = minhash_batch(texts, n_perm, n_bands, k)
    assert sigs.dtype == np.uint64 and sigs.shape == (len(texts), n_perm)
    assert bands.dtype == np.int64 and bands.shape == (len(texts), n_bands)
    assert len(fps) == len(texts)
    for i, t in enumerate(texts):
        want = _ref_signature(t or "", n_perm, k)
        assert np.array_equal(sigs[i], want), repr(t)
        assert bands[i].tolist() == _ref_bands(want, n_bands), repr(t)
        assert fps[i] == _ref_fingerprint(t or ""), repr(t)
        assert np.array_equal(minhash_signature(t, n_perm, k), sigs[i])
        assert minhash_bands(sigs[i], n_bands) == bands[i].tolist()
        assert word_shingles(t or "", k) == _ref_shingles(t or "", k)


# ── fixed cases ─────────────────────────────────────────────────────────────

FIXED = [
    None,
    "",
    "   \t\n  ",
    "!!! ... --- ,,, ???",
    "one",
    "two words",
    "four words only here",
    "exactly five words right here",
    "exactly five words right here plus",
    "a a a a a a a a a a a a a a a a",            # one repeated shingle
    "x y x y x y x y x y x y x y",                # two alternating shingles
    "\u0130stanbul \u0130\u0130 KELVIN \u212a \u212aelvin",  # İ (U+0130), the Kelvin sign
    "stra\u00dfe gro\u00df \ufb01nance \ufb01le o\ufb03ce",  # ß and ligatures
    "\u4e2d\u6587 \u6587\u672c \u65e5\u672c\u8a9e \ud55c\uad6d\uc5b4 mixed \u4e2d with ascii words",
    "\u03a3\u038a\u03a3\u03a5\u03a6\u039f\u03a3 \u03c3\u03af\u03c3\u03c5 the end \u03c2",
    "Caf\u00e9 cr\u00e8me br\u00fbl\u00e9e na\u00efve r\u00e9sum\u00e9",
    "tabs\tand\nnewlines\r\nand\x0bvertical\x0cfeeds here",
    "\ud800 lone surrogate text with several words in it",
    "MiXeD CaSe 123 numbers 4567 and_underscores-and-dashes",
]


def test_fixed_cases_bit_identical():
    _assert_identical(FIXED)


def test_one_doc_longer_than_a_row_chunk():
    rng = np.random.RandomState(7)
    vocab = [f"w{i}" for i in range(500)]
    words = [vocab[j] for j in rng.randint(0, len(vocab), size=3 * textstats._CHUNK_ROWS)]
    big = " ".join(words)
    assert len(_ref_shingles(big, 5)) > textstats._CHUNK_ROWS
    # the long doc between short ones and an empty one: its rows span
    # several chunks and share chunks with its neighbours
    _assert_identical(["short text of a few words here", big, "", big[:4000], None])


def test_other_shapes_bit_identical():
    texts = ["the quick brown fox jumps over the lazy dog " * 9, "a b c d e f g h"]
    _assert_identical(texts, n_perm=32, n_bands=8, k=3)
    _assert_identical(texts, n_perm=128, n_bands=16, k=5)


def test_batch_of_none_rows_and_empty_batch():
    sigs, bands, fps = minhash_batch([])
    assert sigs.shape == (0, 64) and bands.shape == (0, 16) and fps == []
    sigs, _, fps = minhash_batch([None, ""])
    assert (sigs == np.uint64(0xFFFFFFFFFFFFFFFF)).all()
    assert fps == [hashlib.md5(b"").hexdigest()] * 2


def test_uneven_bands_raise():
    with pytest.raises(ValueError, match="not a multiple"):
        minhash_bands(minhash_signature("the quick brown fox jumps over", n_perm=60), n_bands=16)
    with pytest.raises(ValueError, match="not a multiple"):
        minhash_batch(["the quick brown fox jumps over"], n_perm=60, n_bands=16)


# ── generated text ──────────────────────────────────────────────────────────

_ALPHABET = st.sampled_from(
    list("abcxyz019 ABC,.-!'\t\n")
    + ["\u0130", "\u212a", "\u00df", "\ufb01", "\u4e2d", "\u00e9", "\u0307", "\u03c2"]
)
_TEXT = st.one_of(
    st.text(_ALPHABET, max_size=200),
    st.text(max_size=120),
    st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta", "Eps", "z9"]),
             max_size=40).map(" ".join),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(st.none(), _TEXT), max_size=8))
def test_generated_batches_bit_identical(texts):
    _assert_identical(texts)


def test_mersenne_fold_is_exact_at_the_edges():
    """_mod_p's one conditional subtract fires only when (x & p) + (x >> 61)
    reaches p, about 2^-58 of random inputs: pin it on the edge values."""
    p = _P
    edge = [0, 1, p - 1, p, p + 1, 2 * p, 2 * p + 1, 1 << 61, (1 << 61) + 6,
            (7 << 61) + p - 7, (7 << 61) + p - 6, (7 << 61) + p, (1 << 64) - 1, (1 << 64) - 8]
    x = np.array(edge, dtype=np.uint64)
    assert textstats._mod_p(x.copy()).tolist() == [v % p for v in edge]
    r = np.random.default_rng(3).integers(0, 1 << 64, size=10000, dtype=np.uint64)
    assert textstats._mod_p(r.copy()).tolist() == [v % p for v in r.tolist()]
