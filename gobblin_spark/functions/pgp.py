"""OpenPGP symmetric encryption (RFC 4880) for column payloads.

The GPGCodec analog (reference: gobblin-modules/gobblin-crypto-provider/
.../GPGCodec.java — password-based symmetric mode): byte-stream
encrypt/decrypt compatible with ``gpg -c`` / ``gpg --decrypt``.

Everything here derives from the public RFC 4880 wire format:
- S2K key derivation (simple / salted / iterated+salted, §3.7)
- SKESK packet (tag 3, §5.3): carries the S2K spec; with no encrypted
  session key the derived key IS the session key
- SEIPD packet (tag 18, §5.13): AES-CFB over 16-byte random prefix +
  2-byte repeat + inner packets + MDC (SHA-1) trailer packet
- Literal data packet (tag 11, §5.9) and Compressed data (tag 8, §5.6;
  ZIP/zlib accepted on decrypt — gpg compresses by default)
- New-format packet headers with one/two/five-octet and partial body
  lengths (§4.2.2)

AES itself comes from the ``cryptography`` package (CFB mode, the
variant SEIPD uses — full-block CFB with zero IV). If that package is
missing, the codec gates with the same NotImplementedError the round-2
code raised.

Column integration: Arrow-batched pandas UDF (binary → binary). Crypto
is inherently per-value Python here — this is a CODEC for payload
columns (the reference applies it to whole writer streams), not a
relational hot path; throughput is bounded by AES, not by the UDF
bridge.
"""

from __future__ import annotations

import hashlib
import os
import struct
import zlib

SYM_ALGO_KEYLEN = {7: 16, 8: 24, 9: 32}  # AES-128/192/256
SYM_ALGO_FOR_KEYLEN = {16: 7, 24: 8, 32: 9}
HASH_ALGO = {1: "md5", 2: "sha1", 8: "sha256", 9: "sha384", 10: "sha512", 11: "sha224"}


def _aes_cfb(key: bytes):
    try:
        from cryptography.hazmat.primitives.ciphers import Cipher, algorithms

        try:  # newer releases move CFB to the 'decrepit' namespace
            from cryptography.hazmat.decrepit.ciphers.modes import CFB
        except ImportError:
            from cryptography.hazmat.primitives.ciphers.modes import CFB
    except ImportError as ex:  # pragma: no cover
        raise NotImplementedError(
            "GPG codec needs the 'cryptography' package for AES-CFB"
        ) from ex
    return Cipher(algorithms.AES(key), CFB(b"\x00" * 16))


# ---------------------------------------------------------------- S2K


def s2k_derive(
    passphrase: bytes,
    keylen: int,
    s2k_type: int = 3,
    hash_algo: int = 2,
    salt: bytes = b"",
    count_code: int = 0x60,
) -> bytes:
    """RFC 4880 §3.7.1 string-to-key. For keylen beyond one digest,
    additional hash contexts are preloaded with N zero bytes."""
    hname = HASH_ALGO[hash_algo]
    if s2k_type == 0:
        seed = passphrase
    elif s2k_type == 1:
        seed = salt + passphrase
    elif s2k_type == 3:
        count = (16 + (count_code & 15)) << ((count_code >> 4) + 6)
        block = salt + passphrase
        reps, rem = divmod(max(count, len(block)), len(block))
        seed = block * reps + block[:rem]
    else:
        raise ValueError(f"unsupported S2K type {s2k_type}")
    out = b""
    ctx_idx = 0
    while len(out) < keylen:
        h = hashlib.new(hname)
        h.update(b"\x00" * ctx_idx)
        h.update(seed)
        out += h.digest()
        ctx_idx += 1
    return out[:keylen]


# ------------------------------------------------------- packet framing


def _new_len(n: int) -> bytes:
    if n < 192:
        return bytes([n])
    if n < 8384:
        n -= 192
        return bytes([192 + (n >> 8), n & 0xFF])
    return b"\xff" + struct.pack(">I", n)


def _packet(tag: int, body: bytes) -> bytes:
    return bytes([0xC0 | tag]) + _new_len(len(body)) + body


def _read_len(buf: bytes, i: int) -> tuple[int, int, bool]:
    """→ (length, next_index, is_partial)."""
    b0 = buf[i]
    if b0 < 192:
        return b0, i + 1, False
    if b0 < 224:
        return ((b0 - 192) << 8) + buf[i + 1] + 192, i + 2, False
    if b0 == 0xFF:
        return struct.unpack(">I", buf[i + 1 : i + 5])[0], i + 5, False
    return 1 << (b0 & 0x1F), i + 1, True  # partial body length


def _read_packet(buf: bytes, i: int) -> tuple[int, bytes, int]:
    """Parse one packet (old or new format) → (tag, body, next_index)."""
    hdr = buf[i]
    if not hdr & 0x80:
        raise ValueError("not an OpenPGP packet")
    if hdr & 0x40:  # new format
        tag = hdr & 0x3F
        i += 1
        body = b""
        while True:
            n, i, partial = _read_len(buf, i)
            body += buf[i : i + n]
            i += n
            if not partial:
                return tag, body, i
    tag = (hdr >> 2) & 0x0F  # old format
    ltype = hdr & 0x03
    i += 1
    if ltype == 0:
        n, i = buf[i], i + 1
    elif ltype == 1:
        n, i = struct.unpack(">H", buf[i : i + 2])[0], i + 2
    elif ltype == 2:
        n, i = struct.unpack(">I", buf[i : i + 4])[0], i + 4
    else:  # indeterminate: to end of input
        n = len(buf) - i
    return tag, buf[i : i + n], i + n


# ------------------------------------------------------ encrypt/decrypt


def pgp_symmetric_encrypt(
    data: bytes,
    passphrase: str | bytes,
    keylen: int = 16,
    filename: bytes = b"",
) -> bytes:
    """``gpg -c``-compatible: SKESK (iterated+salted SHA-1 S2K) +
    SEIPD(MDC) over an uncompressed literal packet."""
    pw = passphrase.encode() if isinstance(passphrase, str) else passphrase
    salt = os.urandom(8)
    count_code = 0x60
    key = s2k_derive(pw, keylen, 3, 2, salt, count_code)

    skesk = bytes([4, SYM_ALGO_FOR_KEYLEN[keylen], 3, 2]) + salt + bytes([count_code])

    literal = (
        bytes([0x62, len(filename)]) + filename + struct.pack(">I", 0) + data
    )
    inner = _packet(11, literal)
    prefix = os.urandom(16)
    body = prefix + prefix[14:16] + inner
    mdc = hashlib.sha1(body + b"\xd3\x14").digest()
    plaintext = body + b"\xd3\x14" + mdc
    enc = _aes_cfb(key).encryptor()
    seipd = b"\x01" + enc.update(plaintext) + enc.finalize()
    return _packet(3, skesk) + _packet(18, seipd)


def _parse_s2k(body: bytes) -> tuple[int, int, int, bytes, int, int]:
    """SKESK body → (sym_algo, s2k_type, hash_algo, salt, count_code,
    end_index)."""
    if body[0] != 4:
        raise ValueError(f"unsupported SKESK version {body[0]}")
    sym_algo, s2k_type, hash_algo = body[1], body[2], body[3]
    i = 4
    salt = b""
    count_code = 0
    if s2k_type in (1, 3):
        salt, i = body[i : i + 8], i + 8
    if s2k_type == 3:
        count_code, i = body[i], i + 1
    return sym_algo, s2k_type, hash_algo, salt, count_code, i


def _unwrap_inner(inner: bytes) -> bytes:
    """Decrypted SEIPD contents → literal data (decompressing if gpg
    wrapped the literal in a compressed packet)."""
    i = 0
    while i < len(inner):
        tag, body, i = _read_packet(inner, i)
        if tag == 11:  # literal
            fn_len = body[1]
            return body[2 + fn_len + 4 :]
        if tag == 8:  # compressed
            algo, cdata = body[0], body[1:]
            if algo == 1:
                return _unwrap_inner(zlib.decompress(cdata, wbits=-15))
            if algo == 2:
                return _unwrap_inner(zlib.decompress(cdata))
            raise ValueError(f"unsupported compression algo {algo}")
        if tag == 19:  # MDC — already verified by caller
            break
    raise ValueError("no literal data packet found")


def pgp_symmetric_decrypt(blob: bytes, passphrase: str | bytes) -> bytes:
    """Decrypt ``gpg -c`` output (SKESK + SEIPD/MDC, or legacy tag-9
    SED refused) produced by this module or by GnuPG."""
    pw = passphrase.encode() if isinstance(passphrase, str) else passphrase
    i = 0
    key = None
    while i < len(blob):
        tag, body, i = _read_packet(blob, i)
        if tag == 3:
            sym_algo, s2k_type, hash_algo, salt, count_code, end = _parse_s2k(body)
            if end != len(body):
                raise ValueError(
                    "SKESK carries an encrypted session key (public-key or "
                    "two-passphrase mode) — only direct S2K is supported"
                )
            key = s2k_derive(
                pw, SYM_ALGO_KEYLEN[sym_algo], s2k_type, hash_algo, salt, count_code
            )
        elif tag == 18:
            if key is None:
                raise ValueError("SEIPD before any SKESK packet")
            if body[0] != 1:
                raise ValueError(f"unsupported SEIPD version {body[0]}")
            dec = _aes_cfb(key).decryptor()
            plain = dec.update(body[1:]) + dec.finalize()
            if plain[16:18] != plain[14:16]:
                raise ValueError("bad passphrase (prefix repeat check failed)")
            if plain[-22:-20] != b"\xd3\x14":
                raise ValueError("missing MDC trailer")
            if hashlib.sha1(plain[:-20]).digest() != plain[-20:]:
                raise ValueError("MDC mismatch: data corrupted or tampered")
            return _unwrap_inner(plain[18:-22])
        elif tag == 9:
            raise ValueError(
                "legacy SED packet without integrity protection — refused "
                "(gpg also warns); re-encrypt with MDC"
            )
    raise ValueError("no SEIPD packet found")


# ------------------------------------------------------ column wrappers


def gpg_encrypt_col(col, passphrase: str, keylen: int = 16):
    """Binary column → OpenPGP-encrypted binary column (pandas UDF;
    Arrow-batched — the per-value Python is the AES work itself)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _enc(s):
        return s.map(
            lambda v: None
            if v is None
            else pgp_symmetric_encrypt(bytes(v), passphrase, keylen)
        )

    # explicit annotations: `from __future__ import annotations` would
    # stringify inline hints and break pandas_udf's type inference
    _enc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_enc, "binary")(col)


def gpg_decrypt_col(col, passphrase: str):
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _dec(s):
        return s.map(
            lambda v: None
            if v is None
            else pgp_symmetric_decrypt(bytes(v), passphrase)
        )

    _dec.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return pandas_udf(_dec, "binary")(col)
