"""Dependency-free AES (FIPS-197, 128/192/256-bit keys) + CBC mode —
the primitive the PDF /AESV2 and /AESV3 crypt filters need
(ISO 32000-1 §7.6.2 / 32000-2 §7.6.4; the container has no
pycryptodome, and hashlib has no AES).  Pure-python byte work runs
executor-side inside Arrow batches like the rest of the codec tier;
tables are GENERATED from the GF(2^8) definitions rather than
transcribed (the S-box is the multiplicative inverse followed by the
§5.1.1 affine transform), and all three FIPS-197 appendix C vectors
are pinned in tests/test_pdf.py.

No reference counterpart (the reference is a pandas GUI,
SURVEY.md §2.7 EXT)."""

from __future__ import annotations


def _gf_mul(a: int, b: int) -> int:
    """GF(2^8) multiply, reducing by the AES polynomial x^8+x^4+x^3+x+1."""
    r = 0
    while b:
        if b & 1:
            r ^= a
        a <<= 1
        if a & 0x100:
            a ^= 0x11B
        b >>= 1
    return r


def _build_tables() -> tuple[bytes, bytes]:
    inv = [0] * 256
    for x in range(1, 256):
        if inv[x]:
            continue
        for y in range(1, 256):
            if _gf_mul(x, y) == 1:
                inv[x], inv[y] = y, x
                break
    sbox = [0] * 256
    for x in range(256):
        b = inv[x]
        s = 0x63
        for i in range(8):
            bit = (
                (b >> i)
                ^ (b >> ((i + 4) % 8))
                ^ (b >> ((i + 5) % 8))
                ^ (b >> ((i + 6) % 8))
                ^ (b >> ((i + 7) % 8))
            ) & 1
            s ^= bit << i
        sbox[x] = s  # the 0x63 constant is the loop's initial value
    inv_sbox = [0] * 256
    for x, v in enumerate(sbox):
        inv_sbox[v] = x
    return bytes(sbox), bytes(inv_sbox)


_SBOX, _INV_SBOX = _build_tables()
_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36]


def _build_enc_ttables() -> tuple[list[int], ...]:
    """The classic 32-bit T-tables (one S-box+MixColumns lookup per
    state byte — the standard software-AES speedup; the KDF in the
    R6 handler runs ~10^4 block encrypts per key derivation, where
    the byte-at-a-time path is ~10× too slow in pure python)."""
    te0, te1, te2, te3 = [], [], [], []
    for x in range(256):
        sx = _SBOX[x]
        w = (
            (_gf_mul(2, sx) << 24)
            | (sx << 16)
            | (sx << 8)
            | _gf_mul(3, sx)
        )
        te0.append(w)
        te1.append(((w >> 8) | (w << 24)) & 0xFFFFFFFF)
        te2.append(((w >> 16) | (w << 16)) & 0xFFFFFFFF)
        te3.append(((w >> 24) | (w << 8)) & 0xFFFFFFFF)
    return te0, te1, te2, te3


_TE0, _TE1, _TE2, _TE3 = _build_enc_ttables()


def _expand_key(key: bytes) -> list[bytes]:
    """AES key schedule for 128/192/256-bit keys (FIPS-197 §5.2):
    Nk ∈ {4, 6, 8} words in, Nr+1 = {11, 13, 15} round keys out.
    AES-256 adds the plain SubWord step at i ≡ 4 (mod Nk)."""
    nk = len(key) // 4
    if len(key) not in (16, 24, 32):
        raise ValueError("AES needs a 16/24/32-byte key")
    nr = nk + 6
    words = [key[i : i + 4] for i in range(0, len(key), 4)]
    for i in range(nk, 4 * (nr + 1)):
        t = words[i - 1]
        if i % nk == 0:
            t = bytes(
                _SBOX[t[(j + 1) % 4]]
                ^ (_RCON[i // nk - 1] if j == 0 else 0)
                for j in range(4)
            )
        elif nk > 6 and i % nk == 4:
            t = bytes(_SBOX[b] for b in t)
        words.append(bytes(a ^ b for a, b in zip(words[i - nk], t)))
    return [b"".join(words[4 * r : 4 * r + 4]) for r in range(nr + 1)]


def _inv_shift_rows(s: bytearray) -> None:
    for r in range(1, 4):
        row = [s[4 * c + r] for c in range(4)]
        for c in range(4):
            s[4 * c + r] = row[(c - r) % 4]


def _mix_columns(s: bytearray, inverse: bool) -> None:
    m = (14, 11, 13, 9) if inverse else (2, 3, 1, 1)
    for c in range(4):
        col = s[4 * c : 4 * c + 4]
        for r in range(4):
            s[4 * c + r] = (
                _gf_mul(m[(0 - r) % 4], col[0])
                ^ _gf_mul(m[(1 - r) % 4], col[1])
                ^ _gf_mul(m[(2 - r) % 4], col[2])
                ^ _gf_mul(m[(3 - r) % 4], col[3])
            )


def _rk_words(rk: list[bytes]) -> list[list[int]]:
    return _rk_words_cached(b"".join(rk))


def _rk_words_cached(flat: bytes) -> list[list[int]]:
    hit = _RKW_CACHE.get(flat)
    if hit is None:
        hit = [
            [
                int.from_bytes(flat[16 * r + 4 * c : 16 * r + 4 * c + 4],
                               "big")
                for c in range(4)
            ]
            for r in range(len(flat) // 16)
        ]
        if len(_RKW_CACHE) < 64:  # bound: one entry per live key
            _RKW_CACHE[flat] = hit
    return hit


_RKW_CACHE: dict[bytes, list[list[int]]] = {}


def _encrypt_block(block: bytes, rk: list[bytes]) -> bytes:
    """T-table encrypt (columns as big-endian 32-bit words; verified
    against all three FIPS-197 appendix C vectors in tests)."""
    nr = len(rk) - 1
    rkw = _rk_words(rk)
    w0 = int.from_bytes(block[0:4], "big") ^ rkw[0][0]
    w1 = int.from_bytes(block[4:8], "big") ^ rkw[0][1]
    w2 = int.from_bytes(block[8:12], "big") ^ rkw[0][2]
    w3 = int.from_bytes(block[12:16], "big") ^ rkw[0][3]
    te0, te1, te2, te3, sb = _TE0, _TE1, _TE2, _TE3, _SBOX
    for rnd in range(1, nr):
        k = rkw[rnd]
        t0 = (
            te0[(w0 >> 24) & 255] ^ te1[(w1 >> 16) & 255]
            ^ te2[(w2 >> 8) & 255] ^ te3[w3 & 255] ^ k[0]
        )
        t1 = (
            te0[(w1 >> 24) & 255] ^ te1[(w2 >> 16) & 255]
            ^ te2[(w3 >> 8) & 255] ^ te3[w0 & 255] ^ k[1]
        )
        t2 = (
            te0[(w2 >> 24) & 255] ^ te1[(w3 >> 16) & 255]
            ^ te2[(w0 >> 8) & 255] ^ te3[w1 & 255] ^ k[2]
        )
        t3 = (
            te0[(w3 >> 24) & 255] ^ te1[(w0 >> 16) & 255]
            ^ te2[(w1 >> 8) & 255] ^ te3[w2 & 255] ^ k[3]
        )
        w0, w1, w2, w3 = t0, t1, t2, t3
    k = rkw[nr]
    o0 = (
        (sb[(w0 >> 24) & 255] << 24) | (sb[(w1 >> 16) & 255] << 16)
        | (sb[(w2 >> 8) & 255] << 8) | sb[w3 & 255]
    ) ^ k[0]
    o1 = (
        (sb[(w1 >> 24) & 255] << 24) | (sb[(w2 >> 16) & 255] << 16)
        | (sb[(w3 >> 8) & 255] << 8) | sb[w0 & 255]
    ) ^ k[1]
    o2 = (
        (sb[(w2 >> 24) & 255] << 24) | (sb[(w3 >> 16) & 255] << 16)
        | (sb[(w0 >> 8) & 255] << 8) | sb[w1 & 255]
    ) ^ k[2]
    o3 = (
        (sb[(w3 >> 24) & 255] << 24) | (sb[(w0 >> 16) & 255] << 16)
        | (sb[(w1 >> 8) & 255] << 8) | sb[w2 & 255]
    ) ^ k[3]
    return (
        o0.to_bytes(4, "big") + o1.to_bytes(4, "big")
        + o2.to_bytes(4, "big") + o3.to_bytes(4, "big")
    )


def _decrypt_block(block: bytes, rk: list[bytes]) -> bytes:
    nr = len(rk) - 1
    s = bytearray(a ^ b for a, b in zip(block, rk[nr]))
    for rnd in range(nr - 1, -1, -1):
        _inv_shift_rows(s)
        for i in range(16):
            s[i] = _INV_SBOX[s[i]]
        for i in range(16):
            s[i] ^= rk[rnd][i]
        if rnd > 0:
            _mix_columns(s, inverse=True)
    return bytes(s)


def aes_cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC encrypt, no padding — data length must be a block
    multiple (the ISO 32000-2 Algorithm 2.B KDF and /UE /OE forms)."""
    if len(iv) != 16:
        raise ValueError("IV must be 16 bytes")
    if len(data) % 16:
        raise ValueError("no-pad CBC needs a block-multiple length")
    rk = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        prev = _encrypt_block(
            bytes(a ^ b for a, b in zip(data[i : i + 16], prev)), rk
        )
        out += prev
    return bytes(out)


def aes_cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC decrypt, no padding check."""
    if len(iv) != 16 or len(data) % 16:
        raise ValueError("no-pad CBC needs 16-byte IV and block data")
    rk = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i : i + 16]
        out += bytes(
            a ^ b for a, b in zip(_decrypt_block(blk, rk), prev)
        )
        prev = blk
    return bytes(out)


def aes128_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC encrypt with PKCS#7 padding (always added, 1-16 bytes —
    the PDF /AESV2 and /AESV3 stream convention; despite the name the
    key may be 16/24/32 bytes — kept for the r12 call sites)."""
    pad = 16 - len(data) % 16
    return aes_cbc_encrypt_nopad(key, iv, data + bytes([pad]) * pad)


def aes128_cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC decrypt + PKCS#7 unpad; raises ValueError on malformed
    length or padding (a wrong key surfaces here, loudly)."""
    if len(iv) != 16:
        raise ValueError("IV must be 16 bytes")
    if len(data) == 0 or len(data) % 16:
        raise ValueError("AES-CBC ciphertext length not a block multiple")
    rk = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i : i + 16]
        out += bytes(
            a ^ b for a, b in zip(_decrypt_block(blk, rk), prev)
        )
        prev = blk
    pad = out[-1]
    if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("bad AES-CBC padding (wrong key?)")
    return bytes(out[:-pad])
