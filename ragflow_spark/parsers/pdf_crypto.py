"""PDF standard security handler primitives (no external deps).

Implements the public ISO 32000-1 §7.6 algorithms the reference gets
for free from pypdf/pdfplumber (deepdoc/parser/pdf_parser.py:1006-1129
opens encrypted files through those libraries): RC4 (40..128-bit) and
AES-128/256-CBC stream decryption, the standard-security-handler key
derivation (Algorithm 2), per-object keys (Algorithm 1), and the /O //U
computation (Algorithms 3-5) used both to verify the empty-user-password
case and to build encrypted test fixtures.

Everything here is from the published specs: RC4 (public since 1994),
AES per FIPS-197 (tables derived programmatically from the GF(2^8)
definition, not copied), PDF algorithms per ISO 32000-1 / the public
PDF 1.7 reference §3.5.
"""

from __future__ import annotations

import hashlib
import struct

# ISO 32000-1 7.6.3.3: the 32-byte padding string applied to passwords
PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


# --------------------------------------------------------------------------
# RC4
# --------------------------------------------------------------------------


def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: same call encrypts and decrypts)."""
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, byte in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = byte ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


# --------------------------------------------------------------------------
# AES (FIPS-197) — tables generated from the spec's GF(2^8) definitions
# --------------------------------------------------------------------------


def _make_sbox() -> tuple[list[int], list[int]]:
    # multiplicative inverse in GF(2^8) via log/antilog over generator 3
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

    def inv(a: int) -> int:
        return 0 if a == 0 else exp[255 - log[a]]

    sbox = [0] * 256
    for a in range(256):
        b = inv(a)
        # affine transform: b ^ rotl(b,1) ^ rotl(b,2) ^ rotl(b,3) ^ rotl(b,4) ^ 0x63
        r = b
        for k in range(1, 5):
            r ^= ((b << k) | (b >> (8 - k))) & 0xFF
        sbox[a] = r ^ 0x63
    inv_sbox = [0] * 256
    for a, v in enumerate(sbox):
        inv_sbox[v] = a
    return sbox, inv_sbox


_SBOX, _INV_SBOX = _make_sbox()


def _xtime(a: int) -> int:
    a <<= 1
    return (a ^ 0x1B) & 0xFF if a & 0x100 else a


def _gmul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        b >>= 1
        a = _xtime(a)
    return p


# 256-entry GF(2^8) multiply tables for the (Inv)MixColumns constants,
# derived from _gmul at import (same clean-room derivation as _SBOX) —
# the bit-loop per byte per round was the decrypt hot spot on real
# encrypted corpora
_T2, _T3, _T9, _T11, _T13, _T14 = (
    [_gmul(x, c) for x in range(256)] for c in (2, 3, 9, 11, 13, 14)
)


_RCON = [0x01]
for _ in range(13):
    _RCON.append(_xtime(_RCON[-1]))


class AES:
    """AES-128/192/256 block cipher, forward and inverse."""

    def __init__(self, key: bytes) -> None:
        nk = len(key) // 4
        if nk not in (4, 6, 8):
            raise ValueError("AES key must be 16/24/32 bytes")
        self.nr = nk + 6
        words = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
        for i in range(nk, 4 * (self.nr + 1)):
            t = list(words[i - 1])
            if i % nk == 0:
                t = t[1:] + t[:1]
                t = [_SBOX[b] for b in t]
                t[0] ^= _RCON[i // nk - 1]
            elif nk > 6 and i % nk == 4:
                t = [_SBOX[b] for b in t]
            words.append([a ^ b for a, b in zip(words[i - nk], t)])
        self.rk = [
            sum((words[4 * r + c] for c in range(4)), [])
            for r in range(self.nr + 1)
        ]

    @staticmethod
    def _add_rk(s: list[int], rk: list[int]) -> None:
        for i in range(16):
            s[i] ^= rk[i]

    def encrypt_block(self, block: bytes) -> bytes:
        s = list(block)
        self._add_rk(s, self.rk[0])
        for rnd in range(1, self.nr + 1):
            s = [_SBOX[b] for b in s]
            # ShiftRows on column-major state: byte order here is
            # s[4c + r]; row r rotates left by r columns
            s = [s[(4 * ((i // 4) + (i % 4)) + (i % 4)) % 16] for i in range(16)]
            if rnd != self.nr:
                t = list(s)
                for c in range(4):
                    a0, a1, a2, a3 = t[4 * c : 4 * c + 4]
                    s[4 * c + 0] = _T2[a0] ^ _T3[a1] ^ a2 ^ a3
                    s[4 * c + 1] = a0 ^ _T2[a1] ^ _T3[a2] ^ a3
                    s[4 * c + 2] = a0 ^ a1 ^ _T2[a2] ^ _T3[a3]
                    s[4 * c + 3] = _T3[a0] ^ a1 ^ a2 ^ _T2[a3]
            self._add_rk(s, self.rk[rnd])
        return bytes(s)

    def decrypt_block(self, block: bytes) -> bytes:
        s = list(block)
        self._add_rk(s, self.rk[self.nr])
        for rnd in range(self.nr - 1, -1, -1):
            # InvShiftRows: row r rotates right by r columns
            s = [s[(4 * ((i // 4) - (i % 4)) + (i % 4)) % 16] for i in range(16)]
            s = [_INV_SBOX[b] for b in s]
            self._add_rk(s, self.rk[rnd])
            if rnd != 0:
                t = list(s)
                for c in range(4):
                    a0, a1, a2, a3 = t[4 * c : 4 * c + 4]
                    s[4 * c + 0] = _T14[a0] ^ _T11[a1] ^ _T13[a2] ^ _T9[a3]
                    s[4 * c + 1] = _T9[a0] ^ _T14[a1] ^ _T11[a2] ^ _T13[a3]
                    s[4 * c + 2] = _T13[a0] ^ _T9[a1] ^ _T14[a2] ^ _T11[a3]
                    s[4 * c + 3] = _T11[a0] ^ _T13[a1] ^ _T9[a2] ^ _T14[a3]
        return bytes(s)


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """PDF AES stream layout (ISO 32000-1 7.6.2): the first 16 bytes
    are the IV, the rest is CBC ciphertext with PKCS#5-style padding."""
    if len(data) < 32 or len(data) % 16:
        return b""
    aes = AES(key)
    iv, ct = data[:16], data[16:]
    out = bytearray()
    prev = iv
    for i in range(0, len(ct), 16):
        blk = ct[i : i + 16]
        pt = aes.decrypt_block(blk)
        out += bytes(a ^ b for a, b in zip(pt, prev))
        prev = blk
    pad = out[-1]
    if 1 <= pad <= 16:
        out = out[:-pad]
    return bytes(out)


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Forward CBC with PDF padding, IV prepended (fixture builder +
    round-trip tests)."""
    aes = AES(key)
    pad = 16 - (len(data) % 16)
    data = data + bytes([pad]) * pad
    out = bytearray(iv)
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = aes.encrypt_block(blk)
        out += prev
    return bytes(out)


# --------------------------------------------------------------------------
# Standard security handler (ISO 32000-1 7.6.3)
# --------------------------------------------------------------------------


def _padded(password: bytes) -> bytes:
    return (password + PAD)[:32]


def compute_key(
    o_entry: bytes,
    p: int,
    id0: bytes,
    r: int,
    length_bits: int = 40,
    encrypt_metadata: bool = True,
    password: bytes = b"",
) -> bytes:
    """Algorithm 2: the file encryption key from the (user) password."""
    md = hashlib.md5()
    md.update(_padded(password))
    md.update(o_entry[:32])
    # /P is a signed 32-bit value, but many writers serialize the
    # unsigned form (e.g. 4294963392 for -3904) — mask to the same LE
    # bytes either way
    md.update(struct.pack("<I", p & 0xFFFFFFFF))
    md.update(id0)
    if r >= 4 and not encrypt_metadata:
        md.update(b"\xff\xff\xff\xff")
    key = md.digest()
    n = 5 if r == 2 else max(5, length_bits // 8)
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def object_key(key: bytes, num: int, gen: int, aes: bool) -> bytes:
    """Algorithm 1: the per-object key (V < 5).  V5 uses the file key
    directly — callers skip this."""
    md = hashlib.md5()
    md.update(key)
    md.update(struct.pack("<i", num)[:3])
    md.update(struct.pack("<i", gen)[:2])
    if aes:
        md.update(b"sAlT")
    return md.digest()[: min(len(key) + 5, 16)]


def compute_o(
    owner_pw: bytes, user_pw: bytes, r: int, length_bits: int = 40
) -> bytes:
    """Algorithm 3: the /O value."""
    key = hashlib.md5(_padded(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    n = 5 if r == 2 else max(5, length_bits // 8)  # see recover_user_password
    val = rc4(key[:n], _padded(user_pw))
    if r >= 3:
        for i in range(1, 20):
            val = rc4(bytes(b ^ i for b in key[:n]), val)
    return val


def compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithms 4 (R2) / 5 (R>=3): the /U value."""
    if r == 2:
        return rc4(key, PAD)
    dig = hashlib.md5(PAD + id0).digest()
    val = rc4(key, dig)
    for i in range(1, 20):
        val = rc4(bytes(b ^ i for b in key), val)
    return val + b"\x00" * 16


def verify_user_password(
    o_entry: bytes,
    u_entry: bytes,
    p: int,
    id0: bytes,
    r: int,
    length_bits: int,
    encrypt_metadata: bool,
    password: bytes = b"",
) -> bytes | None:
    """Algorithm 6: returns the file key when ``password`` opens the
    document as the user password, else None."""
    key = compute_key(
        o_entry, p, id0, r, length_bits, encrypt_metadata, password
    )
    expect = compute_u(key, id0, r)
    got, want = (u_entry[:16], expect[:16]) if r >= 3 else (u_entry, expect)
    return key if got == want else None


def recover_user_password(
    o_entry: bytes, owner_pw: bytes, r: int, length_bits: int = 40
) -> bytes:
    """Algorithm 7 (steps a-b): decrypt /O with the owner-password RC4
    key, yielding the PADDED user password (feed to Algorithm 6)."""
    key = hashlib.md5(_padded(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    # max(5, ...) like compute_key: a hostile /Length below 8 bits
    # would otherwise derive an empty RC4 key (key[i % 0] divides by
    # zero); 40-bit is the spec floor either way
    n = 5 if r == 2 else max(5, length_bits // 8)
    data = o_entry[:32]
    if r == 2:
        return rc4(key[:n], data)
    for i in range(19, -1, -1):
        data = rc4(bytes(b ^ i for b in key[:n]), data)
    return data


# --------------------------------------------------------------------------
# AES-256 (R6, PDF 2.0 / Adobe extension level 3)
# --------------------------------------------------------------------------


def _hash_2b(password: bytes, salt: bytes, udata: bytes) -> bytes:
    """Algorithm 2.B (ISO 32000-2): the iterated SHA-256/384/512 hash."""
    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1)[16:-16]
        # aes_cbc_encrypt pads and prepends the IV; Algorithm 2.B wants
        # raw CBC with no padding — strip the IV and the pad block
        mod = sum(e[:16]) % 3
        if mod == 0:
            k = hashlib.sha256(e).digest()
        elif mod == 1:
            k = hashlib.sha384(e).digest()
        else:
            k = hashlib.sha512(e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def verify_user_password_r6(u_entry: bytes, ue_entry: bytes) -> bytes | None:
    """R6 empty-user-password check + file-key recovery (Algorithm 2.A):
    /U = hash || validation salt (8) || key salt (8); the file key is
    AES-256-CBC-decrypt(/UE) with the key-salt hash, zero IV, no pad."""
    if len(u_entry) < 48:
        return None
    # a hostile /UE shorter than the two AES blocks the file key needs
    # would feed decrypt_block a short block (IndexError in AddRoundKey)
    # — and can be paired with a /U an attacker computes themselves for
    # the empty password, so the hash check below does not gate it
    if len(ue_entry) < 32:
        return None
    vsalt, ksalt = u_entry[32:40], u_entry[40:48]
    if _hash_2b(b"", vsalt, b"") != u_entry[:32]:
        return None
    ikey = _hash_2b(b"", ksalt, b"")
    aes = AES(ikey)
    out = bytearray()
    prev = b"\x00" * 16
    for i in range(0, 32, 16):
        blk = ue_entry[i : i + 16]
        pt = aes.decrypt_block(blk)
        out += bytes(a ^ b for a, b in zip(pt, prev))
        prev = blk
    return bytes(out)
