"""Pure-stdlib crypto primitives for the PDF standard security handler.

Implements exactly what empty-user-password PDF decryption needs
(ISO 32000-1 §7.6.2-7.6.3; the reference gets this free from pdfjs-dist,
reference package.json:8-9, which transparently decrypts RC4/AES-CBC
standard-security documents with an empty user password — a large share
of crawled "encrypted" PDFs):

  * RC4 (V1/V2 revisions 2-3) — symmetric, same function both ways
  * AES-128 (V4 /AESV2) — forward cipher (fixture writer) and inverse
    cipher (kernel), CBC mode with the 16-byte prepended IV and
    PKCS#5/#7 padding
  * AES-256 (V5 /AESV3, R5/R6 — ISO 32000-2 §7.6.4, round 4): the same
    FIPS-197 core with the Nk=8 key schedule, the Algorithm-2.B hardened
    SHA-2 password hash, /U//UE verification + file-key retrieval, and
    the /Perms ECB check (plus the writer-side inverses for fixtures)
  * the Algorithm-2 file-key derivation, Algorithm-3 /O computation,
    Algorithm-4/5 /U computation+verification, and the Algorithm-1
    per-object key

Both directions are pinned against published test vectors
(FIPS-197 appendix C.1 for AES; the well-known RC4 "Key"/"Plaintext"
vectors) in tests/test_pdf_kernel.py, so the kernel and the fixture
writer cannot share a hidden bug in the block cipher itself.
"""

from __future__ import annotations

import functools
import hashlib
import struct

__all__ = [
    "rc4",
    "aes_cbc_decrypt",
    "aes_cbc_encrypt",
    "aes_decrypt_block",
    "aes_encrypt_block",
    # legacy aliases (pre-round-5 names; same functions, 16- OR 32-byte keys)
    "aes128_cbc_decrypt",
    "aes128_cbc_encrypt",
    "PASSWORD_PAD",
    "file_key",
    "compute_o",
    "compute_u",
    "verify_user_password",
    "recover_user_password",  # Algorithm 7 owner-side (round 5)
    "object_key",
    # AES-256 R5/R6 (ISO 32000-2 §7.6.4) — round 4
    "hash_2b",
    "verify_user_password_r6",
    "retrieve_file_key_r6",
    "make_u_ue_r6",
    "make_o_oe_r6",
    "make_perms_r6",
    "check_perms_r6",
    # R6 owner-side verification/retrieval (used by pdf.py _init_v5 —
    # they were exported in behavior but missing here, r6 review)
    "verify_owner_password_r6",
    "retrieve_file_key_r6_owner",
]

# §7.6.3.3 Algorithm 2 padding string
PASSWORD_PAD = bytes.fromhex(
    "28BF4E5E4E758A4164004E56FFFA01082E2E00B6D0683E802F0CA9FE6453697A"
)


def rc4(key: bytes, data: bytes) -> bytes:
    if not key:
        # honor the module's error contract (ValueError → PDFParseError)
        # instead of an arithmetic ZeroDivisionError from i % klen; the
        # kernel's /Length guards make this unreachable today, but a
        # new caller deriving a zero-length key must fail typed
        # (r6 review)
        raise ValueError("rc4: empty key")
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = c ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


# ── AES-128 (FIPS-197), table-driven ─────────────────────────────────────────


def _gf_tables():
    """exp/log tables over GF(2^8) with generator 3 → S-box + inverse."""
    exp = [0] * 512
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x ^= (x << 1) ^ (0x11B if x & 0x80 else 0)
        x &= 0xFF
    for i in range(255, 512):
        exp[i] = exp[i - 255]
    sbox = [0] * 256
    for i in range(256):
        inv = 0 if i == 0 else exp[255 - log[i]]
        b = inv
        s = inv
        for _ in range(4):
            b = ((b << 1) | (b >> 7)) & 0xFF
            s ^= b
        sbox[i] = s ^ 0x63
    inv_sbox = [0] * 256
    for i, v in enumerate(sbox):
        inv_sbox[v] = i

    def mul(a: int, b: int) -> int:
        if a == 0 or b == 0:
            return 0
        return exp[log[a] + log[b]]

    return sbox, inv_sbox, mul


_SBOX, _INV_SBOX, _GMUL = _gf_tables()
_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36]


def _expand_key(key: bytes) -> list[list[int]]:
    """AES key schedule (FIPS-197 §5.2) → Nr+1 round keys as 16-byte int
    lists. Nk=4 (AES-128, Nr=10) and Nk=8 (AES-256, Nr=14; the extra
    SubWord at i≡4 mod Nk) — AES-192 has no PDF use and stays out."""
    if len(key) not in (16, 32):
        raise ValueError("AES key must be 16 or 32 bytes")
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[i : i + 4]) for i in range(0, len(key), 4)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk == 8 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return [sum(w[4 * r : 4 * r + 4], []) for r in range(nr + 1)]


def _mix_single(col: list[int], m: tuple[int, int, int, int]) -> list[int]:
    a, b, c, d = col
    m0, m1, m2, m3 = m
    return [
        _GMUL(a, m0) ^ _GMUL(b, m1) ^ _GMUL(c, m2) ^ _GMUL(d, m3),
        _GMUL(a, m3) ^ _GMUL(b, m0) ^ _GMUL(c, m1) ^ _GMUL(d, m2),
        _GMUL(a, m2) ^ _GMUL(b, m3) ^ _GMUL(c, m0) ^ _GMUL(d, m1),
        _GMUL(a, m1) ^ _GMUL(b, m2) ^ _GMUL(c, m3) ^ _GMUL(d, m0),
    ]


def _crypt_block(block: bytes, rks: list[list[int]], inverse: bool) -> bytes:
    # state is column-major: byte i of the block is state[i]
    nr = len(rks) - 1  # 10 (AES-128) or 14 (AES-256)
    s = [b ^ k for b, k in zip(block, rks[0] if not inverse else rks[nr])]
    box = _INV_SBOX if inverse else _SBOX
    mix = (0x0E, 0x0B, 0x0D, 0x09) if inverse else (0x02, 0x03, 0x01, 0x01)
    rounds = range(1, nr)
    for rnd in rounds:
        if inverse:
            # InvShiftRows then InvSubBytes
            t = [0] * 16
            for c in range(4):
                for r in range(4):
                    t[((c + r) % 4) * 4 + r] = s[c * 4 + r]
            s = [box[b] for b in t]
            s = [b ^ k for b, k in zip(s, rks[nr - rnd])]
            out = []
            for c in range(4):
                out += _mix_single(s[4 * c : 4 * c + 4], mix)
            s = out
        else:
            s = [box[b] for b in s]
            t = [0] * 16
            for c in range(4):
                for r in range(4):
                    t[c * 4 + r] = s[((c + r) % 4) * 4 + r]
            out = []
            for c in range(4):
                out += _mix_single(t[4 * c : 4 * c + 4], mix)
            s = [b ^ k for b, k in zip(out, rks[rnd])]
    if inverse:
        t = [0] * 16
        for c in range(4):
            for r in range(4):
                t[((c + r) % 4) * 4 + r] = s[c * 4 + r]
        s = [box[b] for b in t]
        s = [b ^ k for b, k in zip(s, rks[0])]
    else:
        s = [box[b] for b in s]
        t = [0] * 16
        for c in range(4):
            for r in range(4):
                t[c * 4 + r] = s[((c + r) % 4) * 4 + r]
        s = [b ^ k for b, k in zip(t, rks[nr])]
    return bytes(s)


# ── T-table fast path (FIPS-197 §5.3.5 equivalent inverse cipher) ───────────
#
# _crypt_block above is the straight-from-the-spec reference; at ~300 µs
# per block it made the R6 hardened hash (≈8k blocks per derivation,
# §7.6.4.3.4) cost seconds per document. The classic four-table
# formulation below folds SubBytes+ShiftRows+MixColumns into 4 lookups +
# 4 xors per column (~10× here); tests pin fast == reference on both key
# sizes, and the FIPS appendix-C vectors pin both.


def _build_enc_tables():
    # Te[r][x]: the (2,3,1,1) MixColumns coefficient column for row r,
    # applied to SBOX[x], packed little-endian into one 32-bit word
    coefs = [(2, 1, 1, 3), (3, 2, 1, 1), (1, 3, 2, 1), (1, 1, 3, 2)]
    tables = []
    for r in range(4):
        c0, c1, c2, c3 = coefs[r]
        tab = [0] * 256
        for x in range(256):
            s = _SBOX[x]
            tab[x] = (
                _GMUL(s, c0)
                | (_GMUL(s, c1) << 8)
                | (_GMUL(s, c2) << 16)
                | (_GMUL(s, c3) << 24)
            )
        tables.append(tuple(tab))
    return tables


def _build_dec_tables():
    # Td[r][x]: the (14,11,13,9) InvMixColumns coefficient column for
    # row r applied to INV_SBOX[x] (equivalent inverse cipher)
    coefs = [(14, 9, 13, 11), (11, 14, 9, 13), (13, 11, 14, 9), (9, 13, 11, 14)]
    tables = []
    for r in range(4):
        c0, c1, c2, c3 = coefs[r]
        tab = [0] * 256
        for x in range(256):
            s = _INV_SBOX[x]
            tab[x] = (
                _GMUL(s, c0)
                | (_GMUL(s, c1) << 8)
                | (_GMUL(s, c2) << 16)
                | (_GMUL(s, c3) << 24)
            )
        tables.append(tuple(tab))
    return tables


_TE0, _TE1, _TE2, _TE3 = _build_enc_tables()
_TD0, _TD1, _TD2, _TD3 = _build_dec_tables()


def _inv_mix_word(w: int) -> int:
    a = [(w >> (8 * i)) & 0xFF for i in range(4)]
    m = (0x0E, 0x0B, 0x0D, 0x09)
    out = 0
    for i in range(4):
        v = (
            _GMUL(a[0], m[(0 - i) % 4])
            ^ _GMUL(a[1], m[(1 - i) % 4])
            ^ _GMUL(a[2], m[(2 - i) % 4])
            ^ _GMUL(a[3], m[(3 - i) % 4])
        )
        out |= v << (8 * i)
    return out


@functools.lru_cache(maxsize=64)
def _enc_words(key: bytes) -> tuple:
    """Round keys as per-round 4-word tuples (word c = column c,
    little-endian packed), cached per key — CBC re-keys every call
    otherwise, and V5 decrypts every object with ONE file key."""
    rks = _expand_key(key)
    return tuple(
        tuple(
            rk[4 * c] | rk[4 * c + 1] << 8 | rk[4 * c + 2] << 16 | rk[4 * c + 3] << 24
            for c in range(4)
        )
        for rk in rks
    )


@functools.lru_cache(maxsize=64)
def _dec_words(key: bytes) -> tuple:
    """Equivalent-inverse-cipher schedule: reversed rounds, inner round
    keys passed through InvMixColumns (FIPS-197 §5.3.5)."""
    ew = _enc_words(key)
    nr = len(ew) - 1
    out = [ew[nr]]
    for i in range(1, nr):
        out.append(tuple(_inv_mix_word(w) for w in ew[nr - i]))
    out.append(ew[0])
    return tuple(out)


def aes_encrypt_block(key: bytes, block: bytes) -> bytes:
    """One-block AES with a 16- or 32-byte key (AES-128 / AES-256). The
    key must be `bytes`: it keys the cached round-key schedule."""
    w = _enc_words(key)
    nr = len(w) - 1
    rk = w[0]
    s = [
        (block[4 * c] | block[4 * c + 1] << 8 | block[4 * c + 2] << 16
         | block[4 * c + 3] << 24) ^ rk[c]
        for c in range(4)
    ]
    for rnd in range(1, nr):
        rk = w[rnd]
        s0, s1, s2, s3 = s
        s = [
            _TE0[s0 & 0xFF] ^ _TE1[(s1 >> 8) & 0xFF] ^ _TE2[(s2 >> 16) & 0xFF]
            ^ _TE3[s3 >> 24] ^ rk[0],
            _TE0[s1 & 0xFF] ^ _TE1[(s2 >> 8) & 0xFF] ^ _TE2[(s3 >> 16) & 0xFF]
            ^ _TE3[s0 >> 24] ^ rk[1],
            _TE0[s2 & 0xFF] ^ _TE1[(s3 >> 8) & 0xFF] ^ _TE2[(s0 >> 16) & 0xFF]
            ^ _TE3[s1 >> 24] ^ rk[2],
            _TE0[s3 & 0xFF] ^ _TE1[(s0 >> 8) & 0xFF] ^ _TE2[(s1 >> 16) & 0xFF]
            ^ _TE3[s2 >> 24] ^ rk[3],
        ]
    rk = w[nr]
    s0, s1, s2, s3 = s
    out = bytearray(16)
    for c, (a, b, cc, d) in enumerate(
        ((s0, s1, s2, s3), (s1, s2, s3, s0), (s2, s3, s0, s1), (s3, s0, s1, s2))
    ):
        v = (
            _SBOX[a & 0xFF]
            | _SBOX[(b >> 8) & 0xFF] << 8
            | _SBOX[(cc >> 16) & 0xFF] << 16
            | _SBOX[d >> 24] << 24
        ) ^ rk[c]
        out[4 * c] = v & 0xFF
        out[4 * c + 1] = (v >> 8) & 0xFF
        out[4 * c + 2] = (v >> 16) & 0xFF
        out[4 * c + 3] = v >> 24
    return bytes(out)


def aes_decrypt_block(key: bytes, block: bytes) -> bytes:
    """One-block AES with a 16- or 32-byte key (AES-128 / AES-256). The
    key must be `bytes`: it keys the cached round-key schedule."""
    w = _dec_words(key)
    nr = len(w) - 1
    rk = w[0]
    s = [
        (block[4 * c] | block[4 * c + 1] << 8 | block[4 * c + 2] << 16
         | block[4 * c + 3] << 24) ^ rk[c]
        for c in range(4)
    ]
    for rnd in range(1, nr):
        rk = w[rnd]
        s0, s1, s2, s3 = s
        s = [
            _TD0[s0 & 0xFF] ^ _TD1[(s3 >> 8) & 0xFF] ^ _TD2[(s2 >> 16) & 0xFF]
            ^ _TD3[s1 >> 24] ^ rk[0],
            _TD0[s1 & 0xFF] ^ _TD1[(s0 >> 8) & 0xFF] ^ _TD2[(s3 >> 16) & 0xFF]
            ^ _TD3[s2 >> 24] ^ rk[1],
            _TD0[s2 & 0xFF] ^ _TD1[(s1 >> 8) & 0xFF] ^ _TD2[(s0 >> 16) & 0xFF]
            ^ _TD3[s3 >> 24] ^ rk[2],
            _TD0[s3 & 0xFF] ^ _TD1[(s2 >> 8) & 0xFF] ^ _TD2[(s1 >> 16) & 0xFF]
            ^ _TD3[s0 >> 24] ^ rk[3],
        ]
    rk = w[nr]
    s0, s1, s2, s3 = s
    out = bytearray(16)
    for c, (a, b, cc, d) in enumerate(
        ((s0, s3, s2, s1), (s1, s0, s3, s2), (s2, s1, s0, s3), (s3, s2, s1, s0))
    ):
        v = (
            _INV_SBOX[a & 0xFF]
            | _INV_SBOX[(b >> 8) & 0xFF] << 8
            | _INV_SBOX[(cc >> 16) & 0xFF] << 16
            | _INV_SBOX[d >> 24] << 24
        ) ^ rk[c]
        out[4 * c] = v & 0xFF
        out[4 * c + 1] = (v >> 8) & 0xFF
        out[4 * c + 2] = (v >> 16) & 0xFF
        out[4 * c + 3] = v >> 24
    return bytes(out)


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """PKCS#7-pad, CBC-encrypt, and PREPEND the IV (the PDF layout).
    16- or 32-byte keys (AESV2 / AESV3)."""
    key = bytes(key)
    pad = 16 - len(data) % 16
    data = data + bytes([pad]) * pad
    out = bytearray(iv)
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = aes_encrypt_block(key, blk)
        out += prev
    return bytes(out)


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PDF AESV2 stream layout: first 16 bytes are the IV; strip PKCS#7
    padding. Malformed input raises ValueError (callers map to
    PDFParseError)."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("AES-CBC: ciphertext not a whole number of blocks")
    key = bytes(key)
    prev = data[:16]
    out = bytearray()
    for i in range(16, len(data), 16):
        blk = data[i : i + 16]
        dec = aes_decrypt_block(key, blk)
        out += bytes(a ^ b for a, b in zip(dec, prev))
        prev = blk
    pad = out[-1]
    if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("AES-CBC: bad padding")
    return bytes(out[:-pad])


# Pre-round-5 names. The "128" became a misnomer when round 4 routed
# 32-byte AESV3 keys through the same code paths; the aes_* names state
# the real contract (ADVICE r4) and these aliases keep old callers
# working.
aes128_cbc_encrypt = aes_cbc_encrypt
aes128_cbc_decrypt = aes_cbc_decrypt


# ── standard security handler algorithms (§7.6.3) ───────────────────────────


def _padded(password: bytes) -> bytes:
    return (password + PASSWORD_PAD)[:32]


def file_key(
    password: bytes,
    o: bytes,
    p: int,
    id0: bytes,
    r: int,
    length_bits: int,
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: the file encryption key."""
    md = hashlib.md5()
    md.update(_padded(password))
    md.update(o[:32])
    md.update(struct.pack("<I", p & 0xFFFFFFFF))
    md.update(id0)
    if r >= 4 and not encrypt_metadata:
        md.update(b"\xff\xff\xff\xff")
    key = md.digest()
    n = 5 if r == 2 else length_bits // 8
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _owner_rc4_key(owner_pw: bytes, r: int, length_bits: int) -> bytes:
    """Algorithm 3 steps (a)-(d): the RC4 key derived from the owner
    password alone — shared by /O creation and Algorithm 7 recovery."""
    h = hashlib.md5(_padded(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    n = 5 if r == 2 else length_bits // 8
    return h[:n]


def compute_o(owner_pw: bytes, user_pw: bytes, r: int, length_bits: int) -> bytes:
    """Algorithm 3: the /O (owner password) entry.

    Callers wanting the spec's "no owner password → use the user
    password" default must pass owner_pw=user_pw themselves — this
    function treats b'' as a literally-empty owner password (some real
    writers emit exactly that, and Algorithm 7 then opens the doc with
    an empty password attempt)."""
    rc4key = _owner_rc4_key(owner_pw, r, length_bits)
    o = rc4(rc4key, _padded(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in rc4key), o)
    return o


def recover_user_password(owner_pw: bytes, o: bytes, r: int, length_bits: int) -> bytes:
    """Algorithm 7 (owner-password side, §7.6.3.4.8): invert Algorithm 3
    with a candidate owner password, recovering the PADDED user password
    from /O. The caller then runs the normal user-password chain
    (Algorithm 2 file key + Algorithm 6 /U check) on the result — a
    wrong owner password simply fails that check downstream."""
    rc4key = _owner_rc4_key(owner_pw, r, length_bits)
    data = bytes(o[:32])
    if r >= 3:
        for i in range(19, 0, -1):
            data = rc4(bytes(b ^ i for b in rc4key), data)
    return rc4(rc4key, data)


def compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / Algorithm 5 (R≥3): the /U entry."""
    if r == 2:
        return rc4(key, PASSWORD_PAD)
    h = hashlib.md5(PASSWORD_PAD + id0).digest()
    u = rc4(key, h)
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16  # arbitrary 16-byte pad per spec


def verify_user_password(key: bytes, u: bytes, id0: bytes, r: int) -> bool:
    expect = compute_u(key, id0, r)
    return u[:16] == expect[:16] if r >= 3 else u[:32] == expect[:32]


def _cbc_nopad_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC over whole blocks — no padding, no IV prepend (the R6
    hardened hash and /UE//OE layouts)."""
    if len(data) % 16:
        raise ValueError("CBC-nopad: data not block-aligned")
    key = bytes(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = aes_encrypt_block(key, blk)
        out += prev
    return bytes(out)


def _cbc_nopad_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    if len(data) % 16:
        raise ValueError("CBC-nopad: data not block-aligned")
    key = bytes(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i : i + 16]
        dec = aes_decrypt_block(key, blk)
        out += bytes(a ^ b for a, b in zip(dec, prev))
        prev = blk
    return bytes(out)


# ── AES-256 revision 5/6 (ISO 32000-2 §7.6.4; PDF 2.0 / Adobe ExtLevel 3) ───


def hash_2b(password: bytes, salt: bytes, udata: bytes = b"", r: int = 6) -> bytes:
    """Algorithm 2.B: the hardened SHA-2 password hash (R6).

    DELIBERATELY expensive (anti-brute-force KDF: ≥64 rounds of SHA-2
    over AES-CBC of a 2 KB blob — ~0.2 s here with the T-table core).
    The memo cache means re-parsing the same document, and any corpus
    whose writer reused salts, pays once per executor process instead of
    per row — but it is keyed by a SHA-256 digest of the arguments, not
    the arguments themselves, so raw passwords are never retained for
    the process lifetime (ADVICE r4; moot for the empty-password corpus,
    a real footgun if callers ever pass user-supplied passwords).

    R5 (the deprecated Adobe AESV3 draft) is the plain first step. R6
    iterates: K1 = (pw ‖ K ‖ udata)×64, E = AES-128-CBC(K[:16], iv=K[16:32],
    K1), then SHA-{256,384,512} of E chosen by sum(E[:16]) mod 3 — at
    least 64 rounds, stopping when the last byte of E ≤ round−32."""
    # repr() of a bytes/int tuple is an injective, deterministic encoding
    ck = hashlib.sha256(repr((password, salt, udata, r)).encode()).digest()
    cached = _HASH2B_CACHE.pop(ck, None)
    if cached is not None:
        _HASH2B_CACHE[ck] = cached  # refresh to tail: true LRU, the
        return cached               # policy CLAUDE.md documents — FIFO
    # evicted the hottest writer-reused salt by insertion age (r6 review)
    out = _hash_2b_uncached(password, salt, udata, r)
    if len(_HASH2B_CACHE) >= 256:  # same bound the old lru_cache had
        _HASH2B_CACHE.pop(next(iter(_HASH2B_CACHE)))  # evict LRU head
    _HASH2B_CACHE[ck] = out
    return out


_HASH2B_CACHE: dict[bytes, bytes] = {}


def _hash_2b_uncached(password: bytes, salt: bytes, udata: bytes, r: int) -> bytes:
    k = hashlib.sha256(password + salt + udata).digest()
    if r == 5:
        return k
    count = 0
    while True:
        k1 = (password + k + udata) * 64
        e = _cbc_nopad_encrypt(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[sum(e[:16]) % 3](
            e
        ).digest()
        count += 1
        if count >= 64 and e[-1] <= count - 32:
            return k[:32]


def verify_user_password_r6(password: bytes, u: bytes, r: int = 6) -> bool:
    """Algorithm 11: /U is hash(32) ‖ validation-salt(8) ‖ key-salt(8)."""
    if len(u) < 48:
        return False
    return hash_2b(password, u[32:40], b"", r) == u[:32]


def retrieve_file_key_r6(password: bytes, u: bytes, ue: bytes, r: int = 6) -> bytes:
    """Algorithm 8(b) retrieval: the 256-bit file key = AES-256-CBC-nopad
    decrypt of /UE with the intermediate user key (hash over the key
    salt) and a zero IV. Caller must have verified the password first."""
    ik = hash_2b(password, u[40:48], b"", r)
    return _cbc_nopad_decrypt(ik, b"\x00" * 16, ue[:32])


def verify_owner_password_r6(password: bytes, o: bytes, u: bytes, r: int = 6) -> bool:
    """Algorithm 12: /O hashes over the full 48-byte /U as udata."""
    if len(o) < 48 or len(u) < 48:
        return False
    return hash_2b(password, o[32:40], u[:48], r) == o[:32]


def retrieve_file_key_r6_owner(
    password: bytes, o: bytes, u: bytes, oe: bytes, r: int = 6
) -> bytes:
    """Algorithm 8(b), owner side: decrypt /OE with the owner
    intermediate key (key salt + /U as udata)."""
    ik = hash_2b(password, o[40:48], u[:48], r)
    return _cbc_nopad_decrypt(ik, b"\x00" * 16, oe[:32])


def make_u_ue_r6(
    password: bytes, file_key: bytes, vsalt: bytes, ksalt: bytes, r: int = 6
) -> tuple[bytes, bytes]:
    """Algorithm 8 (writer side): (/U 48 bytes, /UE 32 bytes)."""
    u = hash_2b(password, vsalt, b"", r) + vsalt + ksalt
    ik = hash_2b(password, ksalt, b"", r)
    return u, _cbc_nopad_encrypt(ik, b"\x00" * 16, file_key)


def make_o_oe_r6(
    owner_pw: bytes, file_key: bytes, u: bytes, vsalt: bytes, ksalt: bytes,
    r: int = 6,
) -> tuple[bytes, bytes]:
    """Algorithm 9 (writer side): owner entries hash over the full 48-byte
    /U as udata."""
    o = hash_2b(owner_pw, vsalt, u[:48], r) + vsalt + ksalt
    ik = hash_2b(owner_pw, ksalt, u[:48], r)
    return o, _cbc_nopad_encrypt(ik, b"\x00" * 16, file_key)


def make_perms_r6(p: int, encrypt_metadata: bool, file_key: bytes) -> bytes:
    """Algorithm 10 (writer side): /Perms = AES-256-ECB(file_key, perms
    block). Bytes 12-15 are 'random' per spec — fixed here for
    byte-stable fixtures (readers must ignore them)."""
    blk = (
        # /P arrives signed (-3904) or unsigned (4294963392) depending on
        # the producing toolchain — mask to the 32-bit pattern like
        # file_key does; a bare '<i' pack raises struct.error on the
        # unsigned form (r6 review)
        struct.pack("<I", p & 0xFFFFFFFF)
        + b"\xff\xff\xff\xff"
        + (b"T" if encrypt_metadata else b"F")
        + b"adb"
        + b"pts0"
    )
    return aes_encrypt_block(bytes(file_key), blk)


def check_perms_r6(perms: bytes, file_key: bytes) -> bool:
    """Algorithm 13 (reader side): decrypt /Perms ECB, require the 'adb'
    signature at bytes 9-11 (P/metadata consistency is advisory)."""
    if len(perms) < 16:
        return False
    blk = aes_decrypt_block(bytes(file_key), perms[:16])
    return blk[9:12] == b"adb"


def object_key(key: bytes, num: int, gen: int, aes: bool) -> bytes:
    """Algorithm 1: the per-object RC4/AES key.

    ISO 32000-1 appends the LOW-ORDER 3 bytes of the object number and 2
    of the generation — mask rather than to_bytes so a >2^24 object
    number (or lenient-parsed generation) derives the spec key instead of
    raising OverflowError (r3 review)."""
    ext = (num & 0xFFFFFF).to_bytes(3, "little") + (gen & 0xFFFF).to_bytes(2, "little")
    if aes:
        ext += b"sAlT"
    return hashlib.md5(key + ext).digest()[: min(len(key) + 5, 16)]
