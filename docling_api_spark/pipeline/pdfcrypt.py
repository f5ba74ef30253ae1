"""Standard-security-handler decryption for PDF streams, pure stdlib:
the empty-USER-password case (ISO 32000-1 §7.6.3, 32000-2 §7.6.4) —
"restrictions-only" encrypted PDFs, by far the most common encrypted
documents in the wild (the owner set permissions; any reader opens them
without a password). The reference converts these through docling's
pypdfium backend (document_converter/service.py:133-158); this module
lets the lightweight stdlib backend do the same instead of emitting the
encrypted-PDF error row.

Supported: /Filter /Standard with
- R 2/3/4 (V 1/2/4): RC4 40-128 bit, and V4 crypt filters /V2 (RC4) or
  /AESV2 (AES-128-CBC), per-object keys via the MD5 schedule;
- R 6 (V 5, AES-256): Algorithm 2.A/2.B hard hash, /UE-wrapped file key,
  /AESV3 (IV-prefixed AES-256-CBC).
A real user password (empty-password validation fails), /Identity-with-
custom-filters combinations, or any non-Standard handler returns None —
the caller keeps the contractual encrypted-PDF error row.

Ciphers are implemented from the public specs alone: RC4 (KSA+PRGA) and
FIPS-197 AES with the S-box COMPUTED from the GF(2^8) definition (no
typo-prone constant tables; tests pin the published FIPS-197 known-
answer vectors, sbox[0]=0x63, and round-trips). AES here is the slow
path of a fallback feature (~0.5 MB/s pure python); the decrypt size is
capped so no input drives unbounded CPU.

Total-function discipline: malformed/unsupported input returns None,
never raises.
"""

from __future__ import annotations

import hashlib
import re
import struct

from docling_api_spark.pipeline.textextract import PdfFile

# ---------------------------------------------------------------------------
# RC4 — the original Rivest cipher as published (public since 1994).
# ---------------------------------------------------------------------------


def rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    kl = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % kl]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# ---------------------------------------------------------------------------
# AES (FIPS-197), both directions: decryption for stream payloads,
# encryption for the R6 Algorithm 2.B hash. The S-box is derived from
# its definition (multiplicative inverse in GF(2^8) + affine transform)
# instead of transcribed — tests pin the published spot values and the
# FIPS known-answer vectors.
# ---------------------------------------------------------------------------


def _build_tables():
    exp = [0] * 512
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        # multiply by 0x03 (a generator of GF(2^8)*): x ^= xtime(x)
        xt = x << 1
        if xt & 0x100:
            xt ^= 0x11B
        x ^= xt
    for i in range(255, 512):
        exp[i] = exp[i - 255]
    sbox = [0] * 256
    inv_sbox = [0] * 256
    for i in range(256):
        inv = exp[255 - log[i]] if i else 0  # 0 maps to 0
        b = inv
        res = 0x63
        for r in range(5):
            res ^= ((b << r) | (b >> (8 - r))) & 0xFF
        sbox[i] = res
        inv_sbox[res] = i
    return tuple(sbox), tuple(inv_sbox), exp, log


_SBOX, _INV_SBOX, _EXP, _LOG = _build_tables()


def _gmul(a: int, b: int) -> int:
    if not a or not b:
        return 0
    return _EXP[_LOG[a] + _LOG[b]]


def _expand_key(key: bytes) -> list[list[int]]:
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [_SBOX[b] for b in t]
            t[0] ^= rcon
            rcon = ((rcon << 1) ^ (0x11B if rcon & 0x80 else 0)) & 0xFF
        elif nk > 6 and i % nk == 4:
            t = [_SBOX[b] for b in t]
        w.append([w[i - nk][j] ^ t[j] for j in range(4)])
    return w


_SHIFT = (0, 5, 10, 15, 4, 9, 14, 3, 8, 13, 2, 7, 12, 1, 6, 11)
_INV_SHIFT = (0, 13, 10, 7, 4, 1, 14, 11, 8, 5, 2, 15, 12, 9, 6, 3)


def _aes_encrypt_block(w: list[list[int]], block: bytes) -> bytes:
    nr = len(w) // 4 - 1
    s = [block[i] ^ w[i // 4][i % 4] for i in range(16)]
    for rnd in range(1, nr + 1):
        s = [_SBOX[s[i]] for i in _SHIFT]
        if rnd < nr:
            t = []
            for c in range(4):
                a = s[4 * c : 4 * c + 4]
                t += [
                    _gmul(a[0], 2) ^ _gmul(a[1], 3) ^ a[2] ^ a[3],
                    a[0] ^ _gmul(a[1], 2) ^ _gmul(a[2], 3) ^ a[3],
                    a[0] ^ a[1] ^ _gmul(a[2], 2) ^ _gmul(a[3], 3),
                    _gmul(a[0], 3) ^ a[1] ^ a[2] ^ _gmul(a[3], 2),
                ]
            s = t
        k = w[4 * rnd : 4 * rnd + 4]
        s = [s[i] ^ k[i // 4][i % 4] for i in range(16)]
    return bytes(s)


def _aes_decrypt_block(w: list[list[int]], block: bytes) -> bytes:
    nr = len(w) // 4 - 1
    k = w[4 * nr : 4 * nr + 4]
    s = [block[i] ^ k[i // 4][i % 4] for i in range(16)]
    for rnd in range(nr - 1, -1, -1):
        s = [_INV_SBOX[s[i]] for i in _INV_SHIFT]
        k = w[4 * rnd : 4 * rnd + 4]
        s = [s[i] ^ k[i // 4][i % 4] for i in range(16)]
        if rnd:
            t = []
            for c in range(4):
                a = s[4 * c : 4 * c + 4]
                t += [
                    _gmul(a[0], 14) ^ _gmul(a[1], 11)
                    ^ _gmul(a[2], 13) ^ _gmul(a[3], 9),
                    _gmul(a[0], 9) ^ _gmul(a[1], 14)
                    ^ _gmul(a[2], 11) ^ _gmul(a[3], 13),
                    _gmul(a[0], 13) ^ _gmul(a[1], 9)
                    ^ _gmul(a[2], 14) ^ _gmul(a[3], 11),
                    _gmul(a[0], 11) ^ _gmul(a[1], 13)
                    ^ _gmul(a[2], 9) ^ _gmul(a[3], 14),
                ]
            s = t
    return bytes(s)


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """No-padding CBC encrypt (len(data) % 16 == 0) — the R6 hash uses
    it; tests use it as the fixture-building side."""
    w = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        prev = _aes_encrypt_block(w, bytes(a ^ b for a, b in
                                           zip(data[i : i + 16], prev)))
        out += prev
    return bytes(out)


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes) -> bytes | None:
    if len(data) % 16 or not data:
        return None
    w = _expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i : i + 16]
        out += bytes(a ^ b for a, b in zip(_aes_decrypt_block(w, blk), prev))
        prev = blk
    return bytes(out)


# ---------------------------------------------------------------------------
# Standard security handler (ISO 32000-1 §7.6.3 / 32000-2 §7.6.4).
# ---------------------------------------------------------------------------

#: Algorithm 2's 32-byte padding string (ISO 32000-1 Table 7.6.3.3-1).
_PAD = bytes.fromhex(
    "28BF4E5E4E758A4164004E56FFFA01082E2E00B6D0683E802F0CA9FE6453697A"
)
_MAX_DECRYPT = 64 << 20  # decrypt work cap (bytes of ciphertext)


def _md5(*parts: bytes) -> bytes:
    h = hashlib.md5()
    for p in parts:
        h.update(p)
    return h.digest()


def _derive_key_r234(
    r: int, length_bits: int, o: bytes, p: int, id0: bytes,
    encrypt_metadata: bool,
) -> bytes:
    n = max(5, min(16, length_bits // 8)) if r >= 3 else 5
    tail = b""
    if r >= 4 and not encrypt_metadata:
        tail = b"\xff\xff\xff\xff"
    key = _md5(
        _PAD, o[:32], struct.pack("<i", p), id0, tail
    )[:n]
    if r >= 3:
        for _ in range(50):
            key = _md5(key[:n])[:n]
    return key


def _verify_user_password_r234(
    r: int, key: bytes, u: bytes, id0: bytes
) -> bool:
    if r == 2:  # Algorithm 4
        return rc4(key, _PAD) == u[:32]
    # Algorithm 5: RC4 chain over MD5(PAD + ID0), 20 re-keyed passes
    x = _md5(_PAD, id0)
    for i in range(20):
        x = rc4(bytes(b ^ i for b in key), x)
    return x == u[:16]


def _hash_r6(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (the R6 'hard' hash)."""
    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1)
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


def _file_key_r6(u: bytes, ue: bytes) -> bytes | None:
    """Empty-user-password validation + /UE unwrap (Algorithms 2.A/8)."""
    if len(u) < 48 or len(ue) < 32:
        return None
    if _hash_r6(b"", u[32:40]) != u[:32]:
        return None  # a real user password is set
    ikey = _hash_r6(b"", u[40:48])
    return aes_cbc_decrypt(ikey, b"\x00" * 16, ue[:32])


def _object_key(
    file_key: bytes, num: int, gen: int, aes: bool, r: int
) -> bytes:
    if r >= 5:
        return file_key  # AESV3: one key for every object
    salt = b"sAlT" if aes else b""
    return _md5(
        file_key,
        num.to_bytes(3, "little"),
        gen.to_bytes(2, "little"),
        salt,
    )[: min(len(file_key) + 5, 16)]


# ---------------------------------------------------------------------------
# PDF plumbing: trailer /Encrypt + /ID, the encryption dictionary, PDF
# string parsing, and whole-file stream rewriting.
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_STREAM_KW_RE = re.compile(rb"\bstream(?:\r\n|\n|\r)")


def _object_streams(content: bytes):
    """Yield (num, gen, dict_bytes, payload_start, payload_end) for
    every `N G obj ... stream ... endstream` object, never crossing an
    `endobj` boundary into a neighbour object's stream."""
    headers = list(_OBJ_RE.finditer(content))
    for i, m in enumerate(headers):
        span_end = (
            headers[i + 1].start() if i + 1 < len(headers) else len(content)
        )
        endobj = content.find(b"endobj", m.end(), span_end)
        if endobj >= 0:
            span_end = endobj
        sm = _STREAM_KW_RE.search(content, m.end(), span_end)
        if sm is None:
            continue
        send = content.find(b"endstream", sm.end())
        if send < 0:
            continue
        yield (
            int(m.group(1)),
            int(m.group(2)),
            content[m.end() : sm.start()],
            sm.end(),
            send,
        )


def _pdf_string_at(d: bytes, pos: int) -> bytes | None:
    """Parse one PDF string object starting at/after pos: hex <...> or
    literal (...) with escapes (ISO 32000-1 §7.3.4)."""
    n = len(d)
    while pos < n and d[pos : pos + 1].isspace():
        pos += 1
    if pos >= n:
        return None
    c = d[pos : pos + 1]
    if c == b"<":
        end = d.find(b">", pos)
        if end < 0:
            return None
        h = re.sub(rb"\s", b"", d[pos + 1 : end])
        if len(h) % 2:
            h += b"0"
        try:
            return bytes.fromhex(h.decode("ascii"))
        except (ValueError, UnicodeDecodeError):
            return None
    if c != b"(":
        return None
    out = bytearray()
    i, depth = pos + 1, 1
    while i < n:
        ch = d[i]
        if ch == 0x5C:  # backslash
            if i + 1 >= n:
                return None
            nxt = d[i + 1]
            esc = {0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8, 0x66: 12,
                   0x28: 0x28, 0x29: 0x29, 0x5C: 0x5C}
            if nxt in esc:
                out.append(esc[nxt])
                i += 2
            elif 0x30 <= nxt <= 0x37:  # octal, 1-3 digits
                j, v = i + 1, 0
                while j < n and j < i + 4 and 0x30 <= d[j] <= 0x37:
                    v = v * 8 + (d[j] - 0x30)
                    j += 1
                out.append(v & 0xFF)
                i = j
            elif nxt in (10, 13):  # line continuation
                i += 2
                if nxt == 13 and i < n and d[i] == 10:
                    i += 1
            else:
                out.append(nxt)
                i += 2
            continue
        if ch == 0x28:
            depth += 1
        elif ch == 0x29:
            depth -= 1
            if depth == 0:
                return bytes(out)
        out.append(ch)
        i += 1
    return None


def _dict_string(d: bytes, key: bytes) -> bytes | None:
    m = re.search(rb"/" + key + rb"\s*(?=[(<])", d)
    return _pdf_string_at(d, m.end()) if m else None


def _dict_num(d: bytes, key: bytes) -> int | None:
    m = re.search(rb"/" + key + rb"\s+(-?\d+)\b", d)
    return int(m.group(1)) if m else None


def _encrypt_dict(pdf: PdfFile) -> tuple[bytes, int] | None:
    """(encryption dictionary bytes, object number) from the trailer's
    /Encrypt reference — classic trailer or XRef-stream dict — resolved
    through the file's object table."""
    m = re.search(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R\b", pdf.content)
    if m is None:
        return None
    num = int(m.group(1))
    body = pdf.object_body(num, int(m.group(2)))
    return None if body is None else (body, num)


def _first_file_id(content: bytes) -> bytes:
    m = re.search(rb"/ID\s*\[", content)
    if m is None:
        return b""
    s = _pdf_string_at(content, m.end())
    return s if s is not None else b""


def pdf_decrypt(content: bytes) -> bytes | None:
    """`pdf_file_decrypt` over raw bytes."""
    return pdf_file_decrypt(PdfFile(content))


def pdf_file_decrypt(pdf: PdfFile) -> bytes | None:
    """Decrypted copy of an empty-user-password standard-security PDF:
    every encrypted stream payload replaced by plaintext and the
    trailer's /Encrypt reference blanked (so downstream treats the
    result as a normal PDF). None when the file is not encrypted, uses
    an unsupported handler/filter, fails empty-password validation
    (i.e. actually needs a password), or is malformed. The /Encrypt
    lookup goes through `pdf`'s object table, so a caller that already
    holds the file's `PdfFile` pays for no second one."""
    content = pdf.content
    if len(content) > _MAX_DECRYPT:
        return None
    enc = _encrypt_dict(pdf)
    if enc is None:
        return None
    ed, enc_num = enc
    if re.search(rb"/Filter\s*/Standard\b", ed) is None:
        return None
    if re.search(rb"/SubFilter\b", ed) is not None:
        return None
    v = _dict_num(ed, b"V") or 0
    r = _dict_num(ed, b"R") or 2
    o = _dict_string(ed, b"O")
    u = _dict_string(ed, b"U")
    p = _dict_num(ed, b"P")
    if o is None or u is None or p is None:
        return None
    aes = False
    if v in (1, 2):
        length = _dict_num(ed, b"Length") or 40
    elif v == 4:
        length = _dict_num(ed, b"Length") or 128
        # the stream crypt filter: /StmF names it, its /CFM is the method
        stmf = re.search(rb"/StmF\s*/(\w+)", ed)
        name = stmf.group(1) if stmf else b"Identity"
        if name == b"Identity":
            return None  # streams not encrypted: nothing we must do here
        cf = re.search(
            rb"/" + re.escape(name) + rb"\s*<<(.*?)>>", ed, re.DOTALL
        )
        cfm = re.search(rb"/CFM\s*/(\w+)", cf.group(1)) if cf else None
        method = cfm.group(1) if cfm else b""
        if method == b"AESV2":
            aes = True
        elif method != b"V2":
            return None
    elif v == 5:
        if r != 6:
            return None  # R5 (the withdrawn Adobe interim) not supported
        aes = True
        length = 256
    else:
        return None
    encrypt_metadata = re.search(
        rb"/EncryptMetadata\s+false\b", ed
    ) is None
    if v == 5:
        ue = _dict_string(ed, b"UE")
        if ue is None:
            return None
        file_key = _file_key_r6(u, ue)
        if file_key is None:
            return None
    else:
        file_key = _derive_key_r234(r, length, o, p,
                                    _first_file_id(content),
                                    encrypt_metadata)
        if not _verify_user_password_r234(r, file_key, u,
                                          _first_file_id(content)):
            return None  # a real user password is set

    out = bytearray()
    pos = 0
    budget = _MAX_DECRYPT
    for num, gen, d, start, end in _object_streams(content):
        if start < pos or b"<<" not in d:
            continue  # bogus header inside a binary payload
        payload = content[start:end]
        # the spec's EOL before `endstream` is NOT ciphertext
        if payload.endswith(b"\r\n"):
            payload = payload[:-2]
        elif payload.endswith((b"\n", b"\r")):
            payload = payload[:-1]
        out += content[pos:start]
        pos = end
        if num == enc_num or re.search(rb"/Type\s*/XRef\b", d):
            out += content[start:end]  # never encrypted (§7.5.8.2)
            continue
        budget -= len(payload)
        if budget < 0:
            return None
        okey = _object_key(file_key, num, gen, aes, r)
        if aes:
            if len(payload) < 32:
                plain = b""
            else:
                dec = aes_cbc_decrypt(okey, payload[:16], payload[16:])
                if dec is None:
                    return None
                padlen = dec[-1] if dec else 0
                plain = dec[:-padlen] if 0 < padlen <= 16 else dec
        else:
            plain = rc4(okey, payload)
        out += plain + b"\n"
    out += content[pos:]
    # blank the /Encrypt reference(s) in trailer dicts so
    # pdf_is_encrypted() sees a normal file (offsets are irrelevant to
    # the regex-based extraction downstream)
    return re.sub(
        rb"/Encrypt\s+\d+\s+\d+\s+R\b",
        lambda mm: b" " * len(mm.group(0)),
        bytes(out),
    )
