"""ECMA-376 / [MS-OFFCRYPTO] 2.3.4 "agile encryption" for modern Office
(OOXML) documents — pure python/numpy, stdlib hashes only.

Round 5 (VERDICT r4 item 8): the round-4 encrypted path covered only
legacy Word97 RC4; real crawls also contain password-protected
.docx/.xlsx, which use the agile scheme — SHA-512 spin key derivation +
AES-CBC over 4096-byte segments inside a CFB container holding
``EncryptionInfo`` (an XML descriptor) and ``EncryptedPackage`` streams.

Reference parity: Xponents delegates encrypted Office to Tika
(XText pipeline, ``src/main/java`` XText converters); this module is the
Spark-side equivalent with no external parsers.  AES here is the public
FIPS-197 construction; it appears solely for document-format
compatibility, not as a cryptography offering.

Scale note: decryption is the hot path (the 100 TB corpus is read, not
written), so CBC *decryption* is numpy-vectorized across all blocks of a
segment (decrypt-all-then-XOR-shifted-ciphertext — CBC decrypt has no
chain dependency); the writer's serial CBC encrypt only runs on fixture
generation.
"""

from __future__ import annotations

import base64
import hashlib
import hmac as _hmac
import struct
from xml.etree import ElementTree

import numpy as np

# --- AES (FIPS-197), table-based, pure python/numpy ----------------------


def _gf_mul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B
        b >>= 1
    return p


def _build_tables():
    # S-box from multiplicative inverse in GF(2^8) + affine transform
    inv = [0] * 256
    for x in range(1, 256):
        for y in range(1, 256):
            if _gf_mul(x, y) == 1:
                inv[x] = y
                break
    sbox = [0] * 256
    for x in range(256):
        b = inv[x]
        s = 0
        for i in range(8):
            bit = ((b >> i) & 1) ^ ((b >> ((i + 4) % 8)) & 1) \
                ^ ((b >> ((i + 5) % 8)) & 1) ^ ((b >> ((i + 6) % 8)) & 1) \
                ^ ((b >> ((i + 7) % 8)) & 1) ^ ((0x63 >> i) & 1)
            s |= bit << i
        sbox[x] = s
    inv_sbox = [0] * 256
    for x, s in enumerate(sbox):
        inv_sbox[s] = x
    mul = {m: np.array([_gf_mul(x, m) for x in range(256)], dtype=np.uint8)
           for m in (2, 3, 9, 11, 13, 14)}
    return (np.array(sbox, dtype=np.uint8),
            np.array(inv_sbox, dtype=np.uint8), mul)


_SBOX, _INV_SBOX, _MUL = _build_tables()
_RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36,
         0x6C, 0xD8, 0xAB, 0x4D]
# ShiftRows permutations over the flat 16-byte state (byte i = row i%4,
# column i//4 — FIPS-197 column-major order)
_SHIFT = [((c + r) % 4) * 4 + r for c in range(4) for r in range(4)]
_INV_SHIFT = [((c - r) % 4) * 4 + r for c in range(4) for r in range(4)]


def _expand_key(key: bytes) -> np.ndarray:
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[4 * i:4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [int(_SBOX[b]) for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            t = [int(_SBOX[b]) for b in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    rks = np.array(w, dtype=np.uint8).reshape(nr + 1, 16)
    return rks


def _encrypt_blocks(state: np.ndarray, rks: np.ndarray) -> np.ndarray:
    """AES forward cipher over an (N, 16) uint8 array of blocks."""
    nr = len(rks) - 1
    s = state ^ rks[0]
    for r in range(1, nr):
        s = _SBOX[s][:, _SHIFT]
        c = s.reshape(-1, 4, 4)
        a0, a1, a2, a3 = c[:, :, 0], c[:, :, 1], c[:, :, 2], c[:, :, 3]
        m2, m3 = _MUL[2], _MUL[3]
        mixed = np.stack([
            m2[a0] ^ m3[a1] ^ a2 ^ a3,
            a0 ^ m2[a1] ^ m3[a2] ^ a3,
            a0 ^ a1 ^ m2[a2] ^ m3[a3],
            m3[a0] ^ a1 ^ a2 ^ m2[a3]], axis=2)
        s = mixed.reshape(-1, 16) ^ rks[r]
    s = _SBOX[s][:, _SHIFT] ^ rks[nr]
    return s


def _decrypt_blocks(state: np.ndarray, rks: np.ndarray) -> np.ndarray:
    """AES inverse cipher over an (N, 16) uint8 array of blocks."""
    nr = len(rks) - 1
    s = state ^ rks[nr]
    for r in range(nr - 1, 0, -1):
        s = _INV_SBOX[s[:, _INV_SHIFT]] ^ rks[r]
        c = s.reshape(-1, 4, 4)
        a0, a1, a2, a3 = c[:, :, 0], c[:, :, 1], c[:, :, 2], c[:, :, 3]
        m9, m11, m13, m14 = _MUL[9], _MUL[11], _MUL[13], _MUL[14]
        mixed = np.stack([
            m14[a0] ^ m11[a1] ^ m13[a2] ^ m9[a3],
            m9[a0] ^ m14[a1] ^ m11[a2] ^ m13[a3],
            m13[a0] ^ m9[a1] ^ m14[a2] ^ m11[a3],
            m11[a0] ^ m13[a1] ^ m9[a2] ^ m14[a3]], axis=2)
        s = mixed.reshape(-1, 16)
    s = _INV_SBOX[s[:, _INV_SHIFT]] ^ rks[0]
    return s


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC encrypt (no padding added: caller aligns to 16).  Serial by
    construction — writer/fixture path only."""
    if len(data) % 16:
        raise ValueError("CBC input must be 16-byte aligned")
    rks = _expand_key(key)
    out = bytearray()
    prev = np.frombuffer(iv, dtype=np.uint8).copy()
    for i in range(0, len(data), 16):
        blk = np.frombuffer(data[i:i + 16], dtype=np.uint8) ^ prev
        enc = _encrypt_blocks(blk.reshape(1, 16), rks)[0]
        out += enc.tobytes()
        prev = enc
    return bytes(out)


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """CBC decrypt, vectorized over ALL blocks at once (the read/scale
    path): D(c_i) ^ c_{i-1} has no chain dependency."""
    if len(data) % 16:
        raise ValueError("CBC input must be 16-byte aligned")
    if not data:
        return b""
    ct = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16)
    dec = _decrypt_blocks(ct, _expand_key(key))
    prev = np.vstack([np.frombuffer(iv, dtype=np.uint8), ct[:-1]])
    return (dec ^ prev).tobytes()


# --- [MS-OFFCRYPTO] 2.3.4 agile scheme -----------------------------------

_ENC_NS = "http://schemas.microsoft.com/office/2006/encryption"
_PW_NS = "http://schemas.microsoft.com/office/2006/keyEncryptor/password"
# block keys, [MS-OFFCRYPTO] 2.3.4.10 / 2.3.4.13 / 2.3.4.14
_BK_VERIFIER_INPUT = bytes.fromhex("fea7d2763b4b9e79")
_BK_VERIFIER_VALUE = bytes.fromhex("d7aa0f6d3061344e")
_BK_KEY_VALUE = bytes.fromhex("146e0be7abacd0d6")
_BK_HMAC_KEY = bytes.fromhex("5fb2ad010cb9e1f6")
_BK_HMAC_VALUE = bytes.fromhex("a0677f02b22c8433")
_SEGMENT = 4096


class AgileDecryptError(ValueError):
    """Agile-encrypted OOXML: missing/wrong password or corrupt streams."""


def _h(data: bytes) -> bytes:
    return hashlib.sha512(data).digest()


def _spin_hash(password: str, salt: bytes, spin: int) -> bytes:
    h = _h(salt + password.encode("utf-16-le"))
    for i in range(spin):
        h = _h(struct.pack("<I", i) + h)
    return h


def _derive(pw_hash: bytes, block_key: bytes, key_bytes: int) -> bytes:
    d = _h(pw_hash + block_key)
    if len(d) < key_bytes:
        d = d + b"\x36" * (key_bytes - len(d))
    return d[:key_bytes]


def _iv_for(salt: bytes, block_key: bytes | None, block_size: int) -> bytes:
    iv = salt if block_key is None else _h(salt + block_key)
    if len(iv) < block_size:
        iv = iv + b"\x36" * (block_size - len(iv))
    return iv[:block_size]


def _b64(b: bytes) -> str:
    return base64.b64encode(b).decode("ascii")


def make_agile_encrypted(package: bytes, password: str,
                         spin_count: int = 10_000,
                         seed: bytes = b"xponents-agile") -> bytes:
    """OOXML package (a docx/xlsx zip) -> agile-encrypted CFB container.

    Deterministic: salts and the intermediate key derive from sha512 of
    ``seed`` + the package, so fixtures are stable across runs.  Writes
    the full descriptor including dataIntegrity (HMAC-SHA512 over the
    EncryptedPackage stream), AES-256-CBC / SHA-512, the spec's shipping
    configuration."""
    from .cfb import write_cfb

    key_bits, block_size, hash_size = 256, 16, 64
    key_bytes = key_bits // 8
    rnd = _h(seed + package)
    key_salt = rnd[:16]                       # keyData salt
    pw_salt = rnd[16:32]                      # password encryptor salt
    pkg_key = rnd[32:32 + key_bytes]          # intermediate (package) key
    verifier_input = _h(rnd + b"verifier")[:16]
    hmac_key = _h(rnd + b"hmac")[:hash_size]

    pw_hash = _spin_hash(password, pw_salt, spin_count)

    def pw_encrypt(block_key: bytes, data: bytes) -> bytes:
        if len(data) % 16:
            data = data + b"\x00" * (16 - len(data) % 16)
        return aes_cbc_encrypt(_derive(pw_hash, block_key, key_bytes),
                               _iv_for(pw_salt, None, block_size), data)

    enc_verifier_input = pw_encrypt(_BK_VERIFIER_INPUT, verifier_input)
    enc_verifier_value = pw_encrypt(_BK_VERIFIER_VALUE, _h(verifier_input))
    enc_key_value = pw_encrypt(_BK_KEY_VALUE, pkg_key)

    # EncryptedPackage: 8-byte plaintext length + AES-CBC per 4096-byte
    # segment, IV = SHA512(keyData.salt + LE32(segment))[:block_size]
    body = bytearray(struct.pack("<Q", len(package)))
    for si in range(0, max(len(package), 1), _SEGMENT):
        seg = package[si:si + _SEGMENT]
        if len(seg) % 16:
            seg = seg + b"\x00" * (16 - len(seg) % 16)
        iv = _iv_for(key_salt, struct.pack("<I", si // _SEGMENT), block_size)
        body += aes_cbc_encrypt(pkg_key, iv, seg)
    enc_package = bytes(body)

    enc_hmac_key = aes_cbc_encrypt(
        pkg_key, _iv_for(key_salt, _BK_HMAC_KEY, block_size), hmac_key)
    hmac_value = _hmac.new(hmac_key, enc_package, hashlib.sha512).digest()
    enc_hmac_value = aes_cbc_encrypt(
        pkg_key, _iv_for(key_salt, _BK_HMAC_VALUE, block_size), hmac_value)

    common = (f'saltSize="16" blockSize="{block_size}" keyBits="{key_bits}" '
              f'hashSize="{hash_size}" cipherAlgorithm="AES" '
              f'cipherChaining="ChainingModeCBC" hashAlgorithm="SHA512"')
    xml = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\r\n'
        f'<encryption xmlns="{_ENC_NS}" xmlns:p="{_PW_NS}">'
        f'<keyData {common} saltValue="{_b64(key_salt)}"/>'
        f'<dataIntegrity encryptedHmacKey="{_b64(enc_hmac_key)}" '
        f'encryptedHmacValue="{_b64(enc_hmac_value)}"/>'
        f'<keyEncryptors><keyEncryptor uri="{_PW_NS}">'
        f'<p:encryptedKey spinCount="{spin_count}" {common} '
        f'saltValue="{_b64(pw_salt)}" '
        f'encryptedVerifierHashInput="{_b64(enc_verifier_input)}" '
        f'encryptedVerifierHashValue="{_b64(enc_verifier_value)}" '
        f'encryptedKeyValue="{_b64(enc_key_value)}"/>'
        f'</keyEncryptor></keyEncryptors></encryption>')
    info = struct.pack("<HHI", 4, 4, 0x40) + xml.encode("utf-8")
    return write_cfb({"EncryptionInfo": info, "EncryptedPackage": enc_package})


def decrypt_agile_package(reader, password: str | None) -> bytes:
    """CFB reader of an agile-encrypted container -> decrypted OOXML zip.
    Raises :class:`AgileDecryptError` on missing/wrong password, unsupported
    cipher parameters, or HMAC integrity failure."""
    try:
        info = reader.read_stream("EncryptionInfo")
        enc_package = reader.read_stream("EncryptedPackage")
    except Exception as e:
        raise AgileDecryptError(f"unreadable encryption streams: {e}")
    if len(info) < 8:
        raise AgileDecryptError("EncryptionInfo truncated")
    major, minor, _flags = struct.unpack_from("<HHI", info, 0)
    if (major, minor) != (4, 4):
        raise AgileDecryptError(
            f"EncryptionInfo version {major}.{minor}: only agile (4.4) "
            f"supported (standard/extensible encryption not implemented)")
    try:
        # tolerate trailing NULs: CFB writers (ours included) may pad a
        # stream to the mini-cutoff and record the padded size
        root = ElementTree.fromstring(
            info[8:].rstrip(b"\x00").decode("utf-8"))
    except Exception as e:
        raise AgileDecryptError(f"bad EncryptionInfo XML: {e}")

    kd = root.find(f"{{{_ENC_NS}}}keyData")
    ek = root.find(f".//{{{_PW_NS}}}encryptedKey")
    if kd is None or ek is None:
        raise AgileDecryptError("EncryptionInfo missing keyData/encryptedKey")

    def params(el):
        if (el.get("cipherAlgorithm"), el.get("cipherChaining"),
                el.get("hashAlgorithm")) != ("AES", "ChainingModeCBC",
                                             "SHA512"):
            raise AgileDecryptError(
                f"unsupported cipher config "
                f"{el.get('cipherAlgorithm')}/{el.get('cipherChaining')}/"
                f"{el.get('hashAlgorithm')} (AES-CBC/SHA512 only)")
        return (base64.b64decode(el.get("saltValue", "")),
                int(el.get("keyBits", "256")) // 8,
                int(el.get("blockSize", "16")))

    key_salt, key_bytes, block_size = params(kd)
    pw_salt, pw_key_bytes, pw_block = params(ek)
    if password is None:
        raise AgileDecryptError("password required")
    spin = int(ek.get("spinCount", "100000"))
    pw_hash = _spin_hash(password, pw_salt, spin)

    def pw_decrypt(block_key: bytes, b64val: str) -> bytes:
        return aes_cbc_decrypt(
            _derive(pw_hash, block_key, pw_key_bytes),
            _iv_for(pw_salt, None, pw_block),
            base64.b64decode(b64val))

    ver_input = pw_decrypt(_BK_VERIFIER_INPUT,
                           ek.get("encryptedVerifierHashInput", ""))[:16]
    ver_value = pw_decrypt(_BK_VERIFIER_VALUE,
                           ek.get("encryptedVerifierHashValue", ""))
    if _h(ver_input) != ver_value[:64]:
        raise AgileDecryptError("password verification failed")
    pkg_key = pw_decrypt(_BK_KEY_VALUE,
                         ek.get("encryptedKeyValue", ""))[:key_bytes]

    if len(enc_package) < 8:
        raise AgileDecryptError("EncryptedPackage truncated")
    (size,) = struct.unpack_from("<Q", enc_package, 0)
    # true ciphertext extent from the plaintext size prefix: CFB pad
    # bytes past it (mini-cutoff padding) are not part of the package or
    # of the HMAC'd stream
    full_segs, rem = divmod(size, _SEGMENT)
    ct_len = full_segs * _SEGMENT + (((rem + 15) // 16) * 16 if rem else 0)
    if 8 + ct_len > len(enc_package):
        raise AgileDecryptError("EncryptedPackage shorter than declared size")
    ct = enc_package[8:8 + ct_len]

    di = root.find(f"{{{_ENC_NS}}}dataIntegrity")
    if di is not None:
        hmac_key = aes_cbc_decrypt(
            pkg_key, _iv_for(key_salt, _BK_HMAC_KEY, block_size),
            base64.b64decode(di.get("encryptedHmacKey", "")))[:64]
        expect = aes_cbc_decrypt(
            pkg_key, _iv_for(key_salt, _BK_HMAC_VALUE, block_size),
            base64.b64decode(di.get("encryptedHmacValue", "")))[:64]
        got = _hmac.new(hmac_key, enc_package[:8 + ct_len],
                        hashlib.sha512).digest()
        if not _hmac.compare_digest(got, expect):
            raise AgileDecryptError("dataIntegrity HMAC mismatch")

    out = bytearray()
    for si in range(0, len(ct), _SEGMENT):
        iv = _iv_for(key_salt, struct.pack("<I", si // _SEGMENT), block_size)
        seg = ct[si:si + _SEGMENT]
        out += aes_cbc_decrypt(pkg_key, iv, seg)
    if len(out) < size:
        raise AgileDecryptError("EncryptedPackage shorter than declared size")
    return bytes(out[:size])


# --- [MS-OFFCRYPTO] 2.3.4.5 "standard" (CryptoAPI) encryption ------------
# The pre-agile OOXML scheme (Office 2007 default): binary EncryptionInfo
# header (version 3.2/4.2), SHA-1 50k-spin key derivation (2.3.4.7),
# AES-ECB over the package.  ECB has no chaining, so decrypt vectorizes
# over every block at once.

_STD_SPIN = 50_000
_ALG_AES128, _ALG_AES192, _ALG_AES256 = 0x660E, 0x660F, 0x6610
_ALG_SHA1 = 0x8004


def _ecb(key: bytes, data: bytes, encrypt: bool) -> bytes:
    if len(data) % 16:
        raise ValueError("ECB input must be 16-byte aligned")
    if not data:
        return b""
    blocks = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16)
    rks = _expand_key(key)
    out = (_encrypt_blocks(blocks, rks) if encrypt
           else _decrypt_blocks(blocks, rks))
    return out.tobytes()


def _std_derive_key(password: str, salt: bytes, key_bytes: int) -> bytes:
    """2.3.4.7: SHA-1 spin then the 0x36/0x5C XOR-pad expansion."""
    h = hashlib.sha1(salt + password.encode("utf-16-le")).digest()
    for i in range(_STD_SPIN):
        h = hashlib.sha1(struct.pack("<I", i) + h).digest()
    h = hashlib.sha1(h + struct.pack("<I", 0)).digest()
    x1 = hashlib.sha1(bytes(0x36 ^ b for b in h.ljust(64, b"\x00"))).digest()
    x2 = hashlib.sha1(bytes(0x5C ^ b for b in h.ljust(64, b"\x00"))).digest()
    return (x1 + x2)[:key_bytes]


def make_standard_encrypted(package: bytes, password: str,
                            key_bits: int = 128,
                            seed: bytes = b"xponents-std") -> bytes:
    """OOXML package -> standard-encryption CFB container
    (EncryptionInfo version 4.2 binary descriptor + AES-ECB
    EncryptedPackage).  Deterministic for fixtures."""
    from .cfb import write_cfb
    alg = {128: _ALG_AES128, 192: _ALG_AES192, 256: _ALG_AES256}[key_bits]
    key_bytes = key_bits // 8
    rnd = _h(seed + package)
    salt = rnd[:16]
    verifier = rnd[16:32]
    key = _std_derive_key(password, salt, key_bytes)

    enc_verifier = _ecb(key, verifier, True)
    vhash = hashlib.sha1(verifier).digest()            # 20 bytes
    enc_vhash = _ecb(key, vhash.ljust(32, b"\x00"), True)

    # EncryptionHeader (2.3.2): flags(fCryptoAPI|fAES), sizeExtra, AlgID,
    # AlgIDHash, KeySize(bits), ProviderType, reserved1/2, CSP name
    csp = "Microsoft Enhanced RSA and AES Cryptographic Provider\x00"
    header = struct.pack("<8I", 0x24, 0, alg, _ALG_SHA1, key_bits,
                         0x18, 0, 0) + csp.encode("utf-16-le")
    verifier_blob = (struct.pack("<I", 16) + salt + enc_verifier
                     + struct.pack("<I", 20) + enc_vhash)
    info = (struct.pack("<HHII", 4, 2, 0x24, len(header))
            + header + verifier_blob)

    body = bytearray(struct.pack("<Q", len(package)))
    pkg = package
    if len(pkg) % 16:
        pkg = pkg + b"\x00" * (16 - len(pkg) % 16)
    body += _ecb(key, pkg, True)
    return write_cfb({"EncryptionInfo": info,
                      "EncryptedPackage": bytes(body)})


def _decrypt_standard_package(info: bytes, enc_package: bytes,
                              password: str | None) -> bytes:
    if password is None:
        raise AgileDecryptError("password required")
    if len(info) < 12:
        raise AgileDecryptError("EncryptionInfo truncated")
    _maj, _min, flags, hdr_len = struct.unpack_from("<HHII", info, 0)
    hdr = info[12:12 + hdr_len]
    if len(hdr) < 32:
        raise AgileDecryptError("EncryptionHeader truncated")
    _flags2, _extra, alg, alg_hash, key_bits = struct.unpack_from(
        "<5I", hdr, 0)
    if alg not in (_ALG_AES128, _ALG_AES192, _ALG_AES256):
        raise AgileDecryptError(
            f"standard encryption AlgID 0x{alg:04X} unsupported (AES only"
            f" — RC4 CryptoAPI streams are a different, legacy scheme)")
    if alg_hash != _ALG_SHA1:
        raise AgileDecryptError(
            f"standard encryption hash 0x{alg_hash:04X} unsupported")
    key_bytes = key_bits // 8
    p = 12 + hdr_len
    if len(info) < p + 4:
        raise AgileDecryptError("EncryptionVerifier truncated")
    (salt_size,) = struct.unpack_from("<I", info, p)
    if salt_size != 16 or len(info) < p + 4 + 16 + 16 + 4 + 32:
        raise AgileDecryptError("EncryptionVerifier malformed")
    salt = info[p + 4:p + 20]
    enc_verifier = info[p + 20:p + 36]
    (vhash_size,) = struct.unpack_from("<I", info, p + 36)
    enc_vhash = info[p + 40:p + 72]
    key = _std_derive_key(password, salt, key_bytes)
    verifier = _ecb(key, enc_verifier, False)
    vhash = _ecb(key, enc_vhash, False)[:vhash_size]
    if hashlib.sha1(verifier).digest()[:vhash_size] != vhash:
        raise AgileDecryptError("password verification failed")
    if len(enc_package) < 8:
        raise AgileDecryptError("EncryptedPackage truncated")
    (size,) = struct.unpack_from("<Q", enc_package, 0)
    ct_len = ((size + 15) // 16) * 16
    if 8 + ct_len > len(enc_package):
        raise AgileDecryptError("EncryptedPackage shorter than declared size")
    return _ecb(key, enc_package[8:8 + ct_len], False)[:size]


def decrypt_ooxml_package(reader, password: str | None) -> bytes:
    """Unified encrypted-OOXML entry: dispatch on the EncryptionInfo
    version — 4.4 = agile (XML descriptor), minor version 2 = standard/
    CryptoAPI (binary descriptor).  Raises AgileDecryptError on
    missing/wrong password or unsupported schemes (extensible, RC4
    CryptoAPI)."""
    try:
        info = reader.read_stream("EncryptionInfo")
        enc_package = reader.read_stream("EncryptedPackage")
    except Exception as e:
        raise AgileDecryptError(f"unreadable encryption streams: {e}")
    if len(info) < 4:
        raise AgileDecryptError("EncryptionInfo truncated")
    major, minor = struct.unpack_from("<HH", info, 0)
    if (major, minor) == (4, 4):
        return decrypt_agile_package(reader, password)
    if minor == 2 and major in (2, 3, 4):
        return _decrypt_standard_package(info, enc_package, password)
    raise AgileDecryptError(
        f"EncryptionInfo version {major}.{minor} unsupported "
        f"(agile 4.4 and standard x.2 implemented; extensible x.3 not)")
