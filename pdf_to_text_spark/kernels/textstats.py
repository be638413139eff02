"""Dedup primitives for the training-data pipeline operators.

Pure Python + numpy, deterministic (fixed hash seeds), used inside
Arrow-batched Spark UDFs. The Spark-side operators live in
pdf_to_text_spark.operators.dedup; where the math is SQL-expressible it
is ALSO written with built-in functions so the hot path stays JVM-side —
these kernels back only the genuinely non-SQL part (MinHash signatures),
plus the exact-dup fingerprint taken from the words they normalize anyway.

MinHash is one batch kernel, ``minhash_batch``: per batch of texts it
normalizes each text once into words, which give both the exact-dup
fingerprint and the shingles; it hashes each doc's distinct shingles
once, runs the n_perm universal hashes as row-chunked numpy matrix ops
and hashes the LSH bands, so the Python work per shingle is one blake2b
digest. ``minhash_signature`` and ``minhash_bands`` are its one-row
views; their values are the ones the per-shingle formula (documented on
``minhash_batch``) has always given.
"""

from __future__ import annotations

import collections
import hashlib
import itertools
import re
import struct

import numpy as np

__all__ = [
    "normalize_text",
    "word_shingles",
    "minhash_batch",
    "minhash_signature",
    "minhash_bands",
]

_NORM_RE = re.compile(r"[^0-9a-z]+")

_MERSENNE = (1 << 61) - 1
_N_PERM_DEFAULT = 64


def normalize_text(text: str) -> str:
    """lower + strip non-alphanumerics to single spaces + trim.

    Mirrors the SQL form used by the exact-dedup operator so the Python
    and JVM paths agree: lower → regexp_replace('[^0-9a-z]+', ' ') → trim.
    """
    return _NORM_RE.sub(" ", text.lower()).strip()


def word_shingles(text: str, k: int = 5) -> set[bytes]:
    """Set of k-word shingles (utf-8 bytes) over the normalized text."""
    return set(_shingles(_words(text), k))


def _hasher(seed: int):
    """blake2b-64 personalized with `seed`: `.copy()` it per message, which
    skips the per-call key set-up of hashlib.blake2b(...)."""
    return hashlib.blake2b(digest_size=8, person=struct.pack("<q", seed))


def _perm_params(n_perm: int) -> tuple[np.ndarray, np.ndarray]:
    # deterministic a/b from a fixed-seed generator (no global RNG state)
    rng = np.random.RandomState(0x5EED)
    a = rng.randint(1, _MERSENNE, size=n_perm, dtype=np.int64).astype(np.uint64)
    b = rng.randint(0, _MERSENNE, size=n_perm, dtype=np.int64).astype(np.uint64)
    return a, b


_PERM_CACHE: dict[int, tuple[np.ndarray, np.ndarray]] = {}
_P = np.uint64(_MERSENNE)
_SHIFT = np.uint64(61)
_EMPTY = np.uint64(0xFFFFFFFFFFFFFFFF)
# shingles per (n_perm × rows) matrix: 1024 × 64 × 8 B = 512 KB per
# temporary however long the longest text is (8192 rows ran 2× slower,
# out of cache)
_CHUNK_ROWS = 1024
# lower() then this byte map == normalize_text's regex: [0-9a-z] stay,
# every other byte (and, via encode's '?', every non-ASCII char) → space
_ASCII_FOLD = bytes(c if 48 <= c <= 57 or 97 <= c <= 122 else 32 for c in range(256))


def _mod_p(x: np.ndarray) -> np.ndarray:
    """x mod 2^61-1 in place, exact for any uint64: 2^61 ≡ 1 (mod p), so
    x ≡ (x & p) + (x >> 61) ≤ p + 7, and one conditional subtract ends it."""
    hi = x >> _SHIFT
    x &= _P
    x += hi
    np.subtract(x, _P, out=x, where=x >= _P)
    return x


def _words(text: str | None) -> list[bytes]:
    """normalize_text(text).split() as ASCII bytes; None reads as "".
    ``lower()`` then the ASCII byte map splits exactly where
    normalize_text's regex does, so b" ".join(words) is
    normalize_text(text).encode()."""
    return (text or "").lower().encode("ascii", "replace").translate(_ASCII_FOLD).split()


def _shingles(words: list[bytes], k: int) -> list[bytes]:
    """The k-word shingles of a _words list, repeats kept (1..k-1 words
    are one shingle)."""
    if len(words) <= k:
        return [b" ".join(words)] if words else []
    return list(map(b" ".join, zip(*[words[i:] for i in range(k)])))


def _digests(messages: list[bytes], seed: int) -> bytes:
    """The _hasher(seed) digests of every message, concatenated. The
    copy, update and digest calls run as C-level maps over _CHUNK_ROWS
    hashers (~0.5 MB) at a time, so no Python function runs per message:
    over the shingles of one 232-doc batch that measured 1.3-2x faster
    than a per-message function (4-vCPU Xeon VM, CPython 3.11)."""
    h = _hasher(seed)
    cls = type(h)
    out = []
    for c0 in range(0, len(messages), _CHUNK_ROWS):
        part = messages[c0 : c0 + _CHUNK_ROWS]
        hashers = list(map(cls.copy, itertools.repeat(h, len(part))))
        collections.deque(map(cls.update, hashers, part), maxlen=0)
        out.append(b"".join(map(cls.digest, hashers)))
    return b"".join(out)


def _signatures(word_lists, n_perm: int, k: int) -> np.ndarray:
    """uint64[len(word_lists), n_perm]: every text's MinHash signature,
    from its _words list (see minhash_batch). The batch's
    distinct-per-doc shingles form one flat run of base hashes, doc after
    doc; each chunk of it is hashed n_perm ways and min-reduced per doc
    segment."""
    if n_perm not in _PERM_CACHE:
        _PERM_CACHE[n_perm] = _perm_params(n_perm)
    a, b = _PERM_CACHE[n_perm]
    distinct = [set(_shingles(w, k)) for w in word_lists]
    out = np.full((len(distinct), n_perm), _EMPTY, dtype=np.uint64)
    base = _mod_p(np.frombuffer(
        _digests(list(itertools.chain.from_iterable(distinct)), 0), "<u8").copy())
    owner = np.repeat(np.arange(len(distinct)), [len(d) for d in distinct])
    for c0 in range(0, len(base), _CHUNK_ROWS):
        # perm-major (n_perm × rows): each doc's rows are one contiguous run
        vals = a[:, None] * base[None, c0 : c0 + _CHUNK_ROWS]  # wraps mod 2^64
        vals += b[:, None]
        _mod_p(vals)
        own = owner[c0 : c0 + _CHUNK_ROWS]
        first = np.flatnonzero(np.r_[True, own[1:] != own[:-1]])
        docs = own[first]
        out[docs] = np.minimum(out[docs], np.minimum.reduceat(vals, first, axis=1).T)
    return out


def _rows_per_band(n_perm: int, n_bands: int) -> int:
    # a remainder would silently drop the trailing permutations from every
    # bucket key, degrading recall below the banding threshold math
    if n_perm % n_bands:
        raise ValueError(
            f"n_perm={n_perm} is not a multiple of "
            f"n_bands={n_bands}; {n_perm % n_bands} trailing permutations "
            f"would never influence any bucket"
        )
    return n_perm // n_bands


def _band_keys(sigs: np.ndarray, n_bands: int) -> np.ndarray:
    """int64[n, n_bands]: band b of row i hashes the bytes of
    sigs[i, b*r:(b+1)*r] with blake2b personalized by b+1, top bit cleared."""
    n, n_perm = sigs.shape
    width = _rows_per_band(n_perm, n_bands) * sigs.itemsize
    raw = np.ascontiguousarray(sigs).tobytes()
    news = [_hasher(bi + 1).copy for bi in range(n_bands)]
    out = []
    for i in range(n):
        row = i * n_bands * width
        for bi, new in enumerate(news):
            h = new()
            h.update(raw[row + bi * width : row + (bi + 1) * width])
            out.append(h.digest())
    keys = np.frombuffer(b"".join(out), "<u8").reshape(n, n_bands)
    return (keys & np.uint64(0x7FFFFFFFFFFFFFFF)).astype(np.int64)


def minhash_batch(
    texts, n_perm: int = _N_PERM_DEFAULT, n_bands: int = 16, k: int = 5
) -> tuple[np.ndarray, np.ndarray, list[str]]:
    """MinHash signatures, LSH band keys and exact-dup fingerprints for a
    batch of texts → (uint64[n, n_perm], int64[n, n_bands], n hex
    strings); None reads as "".

    Fingerprint: md5(normalize_text(t)).hexdigest(), taken from the same
    normalized words as the shingles — the value operators/dedup's
    fingerprint_col computes in the JVM.

    Shingles: the k-word windows of normalize_text(t) (a text of fewer
    words is one shingle), each hashed once per doc to
    x = blake2b-64(shingle, person=0) mod p, p = 2^61-1.

    Hash family: h_i(x) = ((a_i*x mod 2^64) + b_i mod 2^64) mod p —
    Broder-'97-SHAPED universal hashing whose product deliberately runs
    in wrapping uint64 arithmetic rather than exact bigints: with
    a, x ~ 2^61 the product wraps mod 2^64 BEFORE the mod-p, so the
    textbook pairwise-independence proof does not apply verbatim. The
    wrap is a fixed measure-preserving permutation of the product space;
    the estimator's Jaccard tracking is pinned empirically by
    test_minhash_sql_estimates_track_exact_jaccard and the
    recall-vs-brute-force gates. Each mod p is the exact Mersenne fold
    (_mod_p), not a uint64 `%`. A text without shingles gets the
    all-ones sentinel, which never collides with real content.

    Bands: n_perm/n_bands rows per band (64/16 → r=4, detection threshold
    s ≈ (1/b)^(1/r) ≈ 0.5 Jaccard); n_perm must divide evenly into the
    bands, or it raises ValueError before any hashing.
    """
    _rows_per_band(n_perm, n_bands)
    word_lists = [_words(t) for t in texts]
    sigs = _signatures(word_lists, n_perm, k)
    fingerprints = [hashlib.md5(b" ".join(w)).hexdigest() for w in word_lists]
    return sigs, _band_keys(sigs, n_bands), fingerprints


def minhash_signature(text: str, n_perm: int = _N_PERM_DEFAULT, k: int = 5) -> np.ndarray:
    """uint64[n_perm] MinHash signature of one text: row 0 of
    minhash_batch([text])'s signatures."""
    return _signatures([_words(text)], n_perm, k)[0]


def minhash_bands(sig: np.ndarray, n_bands: int = 16) -> list[int]:
    """LSH band keys of one signature (minhash_batch's band rule); raises
    ValueError when n_bands does not divide len(sig)."""
    return _band_keys(np.asarray(sig, np.uint64)[None, :], n_bands)[0].tolist()
