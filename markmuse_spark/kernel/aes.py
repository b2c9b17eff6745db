"""AES-128/256 from scratch (FIPS-197) for encrypted-PDF support.

Why a cipher at all: the reference reads any PDF via its OCR service
(reference ``markmuse.py:266-299``) so it never needs one — but a wild
corpus contains AES-encrypted PDFs (AESV2 since Acrobat 7, AESV3/AES-256
the modern default), and an extraction engine that fails them all
leaves real data on the floor.

Why hand-rolled, although the entry points below dispatch to OpenSSL
through ``cryptography`` whenever it imports (``_HAVE_OSSL``):

* ``cryptography`` is not a declared dependency (``pyproject.toml``), so
  on an executor without it this code is the only AES there is;
* the corpus writer (``sources/pdf_writer.py``) encrypts the fixture
  PDFs through these same entry points, so fixtures mint without it;
* ``tests/test_kernel_pdf.py::test_aes_openssl_parity`` checks
  OpenSSL's output against this code.

Everything here derives from the public FIPS-197 spec; the S-box and
GF(2^8) multiplication tables are COMPUTED at import from the field
definition (multiplicative inverse + affine transform) rather than
transcribed, and the round functions use the classic 32-bit T-table
decomposition (one fused SubBytes+ShiftRows+MixColumns lookup per state
byte).

Two execution styles, matched to where each runs:

* **Scalar / serial** (:func:`encrypt_block`, :func:`cbc_encrypt`) —
  pure-Python T-table rounds on four 32-bit words.  Used where
  chaining forces serial work anyway: CBC *encryption* (corpus
  writer) and the PDF 2.0 Algorithm-2.B KDF, whose 64+ chained
  AES-CBC-2048 rounds are *deliberately* sequential (password
  hardening — native-AES readers pay the same block count).
* **Vectorized batch decrypt** (:func:`cbc_decrypt_batch`) — the
  extraction hot path.  CBC *decryption* is embarrassingly parallel
  (ECB-decrypt every block, then XOR each with the previous
  ciphertext block), and AddRoundKey is the ONLY key-dependent step
  of the T-table inverse cipher — so one numpy pass decrypts every
  stream of a file in a single ``(n_blocks, 4)``-word batch even
  when each stream has a different per-object key (AESV2): per-block
  round keys are just a second XOR operand.
"""

from __future__ import annotations

import numpy as np

# Optional OpenSSL-backed fast path (round-8 optimization): when the
# public ``cryptography`` package is importable, the CBC/ECB entry
# points below dispatch to it — byte-identical output (AES is AES; the
# parity is pinned by tests/test_kernel_pdf.py::test_aes_openssl_parity)
# at native speed, which matters because the PDF 2.0 Algorithm-2.B KDF
# deliberately chains 64+ AES-CBC-2048 rounds (measured 32% of the PDF
# kernel's per-doc cost on the bench corpus before this path).  The
# from-scratch FIPS-197 implementation remains the documented fallback
# and the conformance reference; nothing else in this module changes.
try:  # pragma: no cover - exercised via the public entry points
    from cryptography.hazmat.primitives.ciphers import Cipher as _OsslCipher
    from cryptography.hazmat.primitives.ciphers.algorithms import AES as _OsslAES
    from cryptography.hazmat.primitives.ciphers.modes import (
        CBC as _OsslCBC,
        ECB as _OsslECB,
    )

    _HAVE_OSSL = True
except Exception:  # pragma: no cover
    _HAVE_OSSL = False

# ---------------------------------------------------------------------
# GF(2^8) tables, computed from the field (FIPS-197 §4), not transcribed
# ---------------------------------------------------------------------


def _gmul(a: int, b: int) -> int:
    r = 0
    for _ in range(8):
        if b & 1:
            r ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B  # x^8 = x^4 + x^3 + x + 1
        b >>= 1
    return r


def _build_sbox() -> np.ndarray:
    # multiplicative inverse via exp/log over generator 3
    exp = [0] * 255
    x = 1
    for i in range(255):
        exp[i] = x
        x = _gmul(x, 3)
    log = {v: i for i, v in enumerate(exp)}
    out = np.zeros(256, np.uint8)
    for v in range(256):
        inv = 0 if v == 0 else exp[(255 - log[v]) % 255]
        r, c = 0, 0x63
        for i in range(8):
            bit = (
                (inv >> i)
                ^ (inv >> ((i + 4) % 8))
                ^ (inv >> ((i + 5) % 8))
                ^ (inv >> ((i + 6) % 8))
                ^ (inv >> ((i + 7) % 8))
                ^ (c >> i)
            ) & 1
            r |= bit << i
        out[v] = r
    return out


SBOX = _build_sbox()
INV_SBOX = np.zeros(256, np.uint8)
INV_SBOX[SBOX] = np.arange(256, dtype=np.uint8)

_MUL = {
    k: np.array([_gmul(i, k) for i in range(256)], np.uint8)
    for k in (2, 3, 9, 11, 13, 14)
}

# State layout: flat byte index r + 4c (FIPS-197 §3.4, column-major);
# a column is 4 consecutive bytes, viewed little-endian as one uint32
# word (row 0 in the low byte).  T-tables fuse (Inv)SubBytes with the
# (Inv)MixColumns column pattern; (Inv)ShiftRows becomes the gather of
# which column each row byte is read from.


def _word_table(sub: np.ndarray, coef: tuple[int, int, int, int]) -> np.ndarray:
    cols = [
        (
            _MUL[c][sub].astype(np.uint32)
            if c != 1
            else sub.astype(np.uint32)
        )
        << (8 * k)
        for k, c in enumerate(coef)
    ]
    return cols[0] | cols[1] | cols[2] | cols[3]


# encrypt: MixColumns row pattern (2,1,1,3) rotated per source row
_TE = [
    _word_table(SBOX, coef)
    for coef in ((2, 1, 1, 3), (3, 2, 1, 1), (1, 3, 2, 1), (1, 1, 3, 2))
]
_TE_PY = [t.tolist() for t in _TE]  # python ints for the scalar path
_SB_PY = SBOX.tolist()

# decrypt: InvMixColumns row pattern (14,9,13,11) rotated per source row
_TD = [
    _word_table(INV_SBOX, coef)
    for coef in ((14, 9, 13, 11), (11, 14, 9, 13), (13, 11, 14, 9), (9, 13, 11, 14))
]
# final decrypt round: InvSubBytes only, as word-positioned lookups
_IS = [INV_SBOX.astype(np.uint32) << (8 * k) for k in range(4)]

# decrypt (InvShiftRows): which column each row-byte is gathered from, per
# output column 0..3
_DEC_GATHER = [[(c - r) % 4 for c in range(4)] for r in range(4)]

_RCON = [1]
while len(_RCON) < 15:
    _RCON.append(_gmul(_RCON[-1], 2))


def _check_key_len(key: bytes) -> None:
    if len(key) not in (16, 24, 32):
        raise ValueError(f"AES key must be 16/24/32 bytes, got {len(key)}")


def expand_key(key: bytes) -> np.ndarray:
    """Round keys as a ``(rounds+1, 16)`` uint8 array (FIPS-197 §5.2).
    10 rounds for 16-byte keys, 14 for 32-byte."""
    nk = len(key) // 4
    _check_key_len(key)
    rounds = nk + 6
    words = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (rounds + 1)):
        w = list(words[i - 1])
        if i % nk == 0:
            w = w[1:] + w[:1]
            w = [_SB_PY[b] for b in w]
            w[0] ^= _RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            w = [_SB_PY[b] for b in w]
        words.append([a ^ b for a, b in zip(words[i - nk], w)])
    return np.array(words, np.uint8).reshape(rounds + 1, 16)


def _key_words_py(rk: np.ndarray) -> list[list[int]]:
    """Round keys as python uint32 words, little-endian per column."""
    w = rk.reshape(len(rk), 4, 4).astype(np.uint32)
    return (w[:, :, 0] | w[:, :, 1] << 8 | w[:, :, 2] << 16 | w[:, :, 3] << 24).tolist()


# ---------------------------------------------------------------------
# scalar forward cipher (serial-only call sites: writer CBC, 2.B KDF)
# ---------------------------------------------------------------------


def _enc_words(kw: list[list[int]], w0: int, w1: int, w2: int, w3: int):
    te0, te1, te2, te3 = _TE_PY
    sb = _SB_PY
    k = kw[0]
    w0 ^= k[0]
    w1 ^= k[1]
    w2 ^= k[2]
    w3 ^= k[3]
    for r in range(1, len(kw) - 1):
        k = kw[r]
        t0 = te0[w0 & 255] ^ te1[(w1 >> 8) & 255] ^ te2[(w2 >> 16) & 255] ^ te3[w3 >> 24] ^ k[0]
        t1 = te0[w1 & 255] ^ te1[(w2 >> 8) & 255] ^ te2[(w3 >> 16) & 255] ^ te3[w0 >> 24] ^ k[1]
        t2 = te0[w2 & 255] ^ te1[(w3 >> 8) & 255] ^ te2[(w0 >> 16) & 255] ^ te3[w1 >> 24] ^ k[2]
        t3 = te0[w3 & 255] ^ te1[(w0 >> 8) & 255] ^ te2[(w1 >> 16) & 255] ^ te3[w2 >> 24] ^ k[3]
        w0, w1, w2, w3 = t0, t1, t2, t3
    k = kw[-1]
    return (
        (sb[w0 & 255] | sb[(w1 >> 8) & 255] << 8 | sb[(w2 >> 16) & 255] << 16 | sb[w3 >> 24] << 24) ^ k[0],
        (sb[w1 & 255] | sb[(w2 >> 8) & 255] << 8 | sb[(w3 >> 16) & 255] << 16 | sb[w0 >> 24] << 24) ^ k[1],
        (sb[w2 & 255] | sb[(w3 >> 8) & 255] << 8 | sb[(w0 >> 16) & 255] << 16 | sb[w1 >> 24] << 24) ^ k[2],
        (sb[w3 & 255] | sb[(w0 >> 8) & 255] << 8 | sb[(w1 >> 16) & 255] << 16 | sb[w2 >> 24] << 24) ^ k[3],
    )


def encrypt_block(rk: np.ndarray, block: bytes) -> bytes:
    """One-block forward cipher (``rk`` from :func:`expand_key`)."""
    kw = _key_words_py(rk)
    w = int.from_bytes(block, "little")
    out = _enc_words(kw, w & 0xFFFFFFFF, (w >> 32) & 0xFFFFFFFF, (w >> 64) & 0xFFFFFFFF, w >> 96)
    return b"".join(x.to_bytes(4, "little") for x in out)


def cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC forward, NO padding (callers pad; the 2.B KDF must not)."""
    if len(data) % 16:
        raise ValueError("cbc_encrypt: data not block-aligned")
    if _HAVE_OSSL:
        _check_key_len(key)
        enc = _OsslCipher(_OsslAES(key), _OsslCBC(iv[:16])).encryptor()
        return enc.update(data) + enc.finalize()
    kw = _key_words_py(expand_key(key))
    p0 = int.from_bytes(iv[0:4], "little")
    p1 = int.from_bytes(iv[4:8], "little")
    p2 = int.from_bytes(iv[8:12], "little")
    p3 = int.from_bytes(iv[12:16], "little")
    out = bytearray(len(data))
    for i in range(0, len(data), 16):
        p0, p1, p2, p3 = _enc_words(
            kw,
            p0 ^ int.from_bytes(data[i : i + 4], "little"),
            p1 ^ int.from_bytes(data[i + 4 : i + 8], "little"),
            p2 ^ int.from_bytes(data[i + 8 : i + 12], "little"),
            p3 ^ int.from_bytes(data[i + 12 : i + 16], "little"),
        )
        out[i : i + 4] = p0.to_bytes(4, "little")
        out[i + 4 : i + 8] = p1.to_bytes(4, "little")
        out[i + 8 : i + 12] = p2.to_bytes(4, "little")
        out[i + 12 : i + 16] = p3.to_bytes(4, "little")
    return bytes(out)


def ecb_encrypt(key: bytes, data: bytes) -> bytes:
    """ECB forward, no padding (the /Perms field is one raw block)."""
    if _HAVE_OSSL and len(data) % 16 == 0:
        _check_key_len(key)
        enc = _OsslCipher(_OsslAES(key), _OsslECB()).encryptor()
        return enc.update(data) + enc.finalize()
    rk = expand_key(key)
    return b"".join(
        encrypt_block(rk, data[i : i + 16]) for i in range(0, len(data), 16)
    )


# ---------------------------------------------------------------------
# vectorized batch inverse cipher (the extraction hot path)
# ---------------------------------------------------------------------


def _dec_key_words(rk: np.ndarray) -> np.ndarray:
    """T-table decrypt round keys: first and last untouched, middle
    rounds InvMixColumns-transformed (FIPS-197 §5.3.5 equivalent
    inverse cipher).  ``(rounds+1, 4)`` uint32, indexed by the round
    number the DECRYPT loop uses (0 = final AddRoundKey)."""
    dk = rk.copy().reshape(len(rk), 4, 4)
    for r in range(1, len(rk) - 1):
        col = dk[r]
        a0, a1, a2, a3 = col[:, 0].copy(), col[:, 1].copy(), col[:, 2].copy(), col[:, 3].copy()
        col[:, 0] = _MUL[14][a0] ^ _MUL[11][a1] ^ _MUL[13][a2] ^ _MUL[9][a3]
        col[:, 1] = _MUL[9][a0] ^ _MUL[14][a1] ^ _MUL[11][a2] ^ _MUL[13][a3]
        col[:, 2] = _MUL[13][a0] ^ _MUL[9][a1] ^ _MUL[14][a2] ^ _MUL[11][a3]
        col[:, 3] = _MUL[11][a0] ^ _MUL[13][a1] ^ _MUL[9][a2] ^ _MUL[14][a3]
    w = dk.astype(np.uint32)
    return w[:, :, 0] | w[:, :, 1] << 8 | w[:, :, 2] << 16 | w[:, :, 3] << 24


_G1, _G2, _G3 = _DEC_GATHER[1], _DEC_GATHER[2], _DEC_GATHER[3]


def _inv_cipher_words(W: np.ndarray, dkw: list[np.ndarray]) -> np.ndarray:
    """Inverse cipher over ``(n, 4)`` uint32 word-blocks; ``dkw[r]`` is
    the per-block round-key matrix ``(n, 4)`` (heterogeneous keys ride
    one batch — AddRoundKey is the only key-dependent step)."""
    td0, td1, td2, td3 = _TD
    is0, is1, is2, is3 = _IS
    W = W ^ dkw[-1]
    for r in range(len(dkw) - 2, 0, -1):
        W = (
            td0[W & 255]
            ^ td1[(W[:, _G1] >> 8) & 255]
            ^ td2[(W[:, _G2] >> 16) & 255]
            ^ td3[W[:, _G3] >> 24]
            ^ dkw[r]
        )
    return (
        is0[W & 255]
        ^ is1[(W[:, _G1] >> 8) & 255]
        ^ is2[(W[:, _G2] >> 16) & 255]
        ^ is3[W[:, _G3] >> 24]
        ^ dkw[0]
    )


def cbc_decrypt_batch(
    segments: list[tuple[bytes, bytes, bytes]],
) -> list[bytes]:
    """Decrypt many independent CBC segments in ONE vectorized pass.

    ``segments``: ``(key, iv, ciphertext)`` per stream; keys may differ
    (AESV2 derives one per object) but must share a length (one file
    never mixes AES-128 and AES-256 stream keys).  No unpadding here —
    PDF padding validation is the caller's policy.  Returns plaintexts
    in order."""
    if not segments:
        return []
    klen = len(segments[0][0])
    counts = []
    for key, _iv, ct in segments:
        if len(key) != klen:
            raise ValueError("cbc_decrypt_batch: mixed key lengths")
        if len(ct) % 16 or not ct:
            raise ValueError("cbc_decrypt_batch: ciphertext not block-aligned")
        counts.append(len(ct) // 16)
    if _HAVE_OSSL:
        _check_key_len(segments[0][0])
        out = []
        for key, iv, ct in segments:
            dec = _OsslCipher(_OsslAES(key), _OsslCBC(iv[:16])).decryptor()
            out.append(dec.update(ct) + dec.finalize())
        return out
    cipher = np.frombuffer(
        b"".join(ct for _k, _iv, ct in segments), np.uint8
    ).reshape(-1, 16)
    n_rounds = klen // 4 + 6
    reps = np.array(counts)
    per_seg = np.stack([_dec_key_words(expand_key(k)) for k, _iv, _ct in segments])
    dkw = [
        np.repeat(per_seg[:, rnd, :], reps, axis=0)
        for rnd in range(n_rounds + 1)
    ]
    plain = _inv_cipher_words(np.ascontiguousarray(cipher).view("<u4"), dkw)
    plain = np.ascontiguousarray(plain.astype("<u4")).view(np.uint8).reshape(-1, 16)
    # CBC chain: P_i = D(C_i) ^ C_{i-1}, with the IV at each segment head
    chain = np.empty_like(cipher)
    pos = 0
    for (_k, iv, _ct), n in zip(segments, counts):
        chain[pos] = np.frombuffer(iv, np.uint8)
        if n > 1:
            chain[pos + 1 : pos + n] = cipher[pos : pos + n - 1]
        pos += n
    plain ^= chain
    out, pos = [], 0
    for n in counts:
        out.append(plain[pos : pos + n].tobytes())
        pos += n
    return out


def cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    return cbc_decrypt_batch([(key, iv, data)])[0]


# ---------------------------------------------------------------------
# PDF 2.0 password hash (ISO 32000-2 §7.6.4.3.3/4 — public spec; both
# the corpus writer and the kernel call this one implementation, so
# conformance rests on the spec text + the interoperable reading every
# open reader (pdf.js/mupdf/qpdf) documents: iterate while the round
# count is < 64 OR the last byte of E exceeds (count - 32))
# ---------------------------------------------------------------------


def pdf2_hash(password: bytes, salt: bytes, udata: bytes, r: int) -> bytes:
    """Revision-5 (single SHA-256) or revision-6 (Algorithm 2.B
    hardened) password hash for the AES-256 Standard security handler.
    ``udata`` is the 48-byte /U value when hashing owner-password
    inputs, empty otherwise.  Returns 32 bytes."""
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    if r == 5:
        return k
    hashers = (hashlib.sha256, hashlib.sha384, hashlib.sha512)
    count = 0
    e = b"\x00"
    while count < 64 or e[-1] > count - 32:
        k1 = (password + k + udata) * 64
        e = cbc_encrypt(k[:16], k[16:32], k1)
        k = hashers[sum(e[:16]) % 3](e).digest()
        count += 1
    return k[:32]
