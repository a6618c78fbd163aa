"""PDF standard security handler (RC4 / AESV2 / AESV3) — stdlib.

Implements the public standard security handler across PDF 1.7 §7.6
revisions 2-4 (V1 = RC4/40-bit, V2 = RC4 up to 128-bit, V4 = AESV2)
AND the ISO 32000-2 (PDF 2.0) revision 6 AESV3 handler: legacy
file-key derivation (Algorithm 2), /O and /U computation (Algorithms
3-5), per-object keys (md5 + the ``sAlT`` suffix for AESV2), the R6
hardened hash (Algorithm 2.B: SHA-256/384/512 rounds keyed by
AES-128-CBC output) with /U validation-salt checks and /UE file-key
unwrap, and RC4/AES themselves (pinned to the published RC4,
FIPS-197, and NIST SP 800-38A test vectors via
``extractor/aescodec.py``) — so ``pdf_to_text`` can read the common
"owner-locked, empty user password" encrypted documents of every
standard-handler generation.

The encrypt side (:func:`encrypt_pdf`) exists as the deterministic
roundtrip fixture for the decrypt side: it RC4-encrypts every stream
body of a writer-produced PDF in place (RC4 preserves length, so all
offsets and /Length values stay valid), appends the /Encrypt dict
before the xref, and patches the trailer and startxref.  The appended
object is intentionally absent from the xref table — the in-repo
decoder iterates streams without the xref (documented fixture scope).

Reference analogue: the reference's pandoc path
(app/core/pandoc_converter.py) accepts arbitrary real-world PDFs,
which include RC4-encrypted ones.
"""
from __future__ import annotations

import hashlib
import re
import struct

__all__ = ["rc4", "file_key", "object_key", "encrypt_pdf",
           "parse_encrypt_dict", "verify_user_password"]

# PDF 1.7 §7.6.3.3 — the 32-byte password padding string
_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (public since 1994; PDF's V1/V2 stream cipher)."""
    S = list(range(256))
    j = 0
    for i in range(256):
        j = (j + S[i] + key[i % len(key)]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = b ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _pad(password: bytes) -> bytes:
    return (password + _PAD)[:32]


def _strip_cf_dict(src: bytes) -> bytes:
    """Remove the balanced ``/CF << ... >>`` sub-dictionary from an
    Encrypt dict body so top-level key lookups (notably /Length) cannot
    match keys inside the crypt-filter sub-dict."""
    i = src.find(b"/CF")
    if i < 0:
        return src
    j = src.find(b"<<", i)
    if j < 0:
        return src
    depth, k = 0, j
    while k < len(src) - 1:
        two = src[k : k + 2]
        if two == b"<<":
            depth += 1
            k += 2
            continue
        if two == b">>":
            depth -= 1
            k += 2
            if depth == 0:
                break
            continue
        k += 1
    return src[:i] + src[k:]


def file_key(o_entry: bytes, p: int, doc_id: bytes,
             user_password: bytes = b"", revision: int = 3,
             length_bits: int = 128) -> bytes:
    """Algorithm 2: the file encryption key from the user password."""
    n = 5 if revision == 2 else length_bits // 8
    # /P is a SIGNED 32-bit value in the spec, but some writers serialize
    # it unsigned (e.g. 4294963392); pack('<i') would raise struct.error
    # on those — an exception type outside the documented containment
    # contract.  The low 32 bits are identical either way.
    h = hashlib.md5(
        _pad(user_password) + o_entry[:32]
        + struct.pack("<I", p & 0xFFFFFFFF) + doc_id
    ).digest()
    if revision >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    return h[:n]


def compute_o(owner_password: bytes, user_password: bytes,
              revision: int = 3, length_bits: int = 128) -> bytes:
    """Algorithm 3: the /O entry."""
    n = 5 if revision == 2 else length_bits // 8
    h = hashlib.md5(_pad(owner_password or user_password)).digest()
    if revision >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    key = h[:n]
    o = rc4(key, _pad(user_password))
    if revision >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in key), o)
    return o


def compute_u(fkey: bytes, doc_id: bytes, revision: int = 3) -> bytes:
    """Algorithms 4 (R2) / 5 (R3): the /U entry (32 bytes)."""
    if revision == 2:
        return rc4(fkey, _PAD)
    u = rc4(fkey, hashlib.md5(_PAD + doc_id).digest())
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in fkey), u)
    return u + b"\x00" * 16  # last 16 bytes are arbitrary per spec


def verify_user_password(fkey: bytes, u_entry: bytes, doc_id: bytes,
                         revision: int) -> bool:
    want = compute_u(fkey, doc_id, revision)
    cmp_len = 16 if revision >= 3 else 32
    return u_entry[:cmp_len] == want[:cmp_len]


def hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B — the R6 "hardened" password hash:
    SHA-256 seed, then rounds of AES-128-CBC over 64 repetitions of
    (password + K + udata) with the digest algorithm for the next
    round chosen by the first 16 cipher bytes mod 3, until at least 64
    rounds AND the last cipher byte <= round - 32.  The AES/SHA
    primitives underneath are known-answer-pinned; the loop structure
    itself follows the published spec text and is verified by
    encrypt/decrypt roundtrip (no offline KAT exists for 2.B)."""
    k = hashlib.sha256(password + salt + udata).digest()
    from extractor.aescodec import aes_cbc_encrypt

    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        k = (
            hashlib.sha256, hashlib.sha384, hashlib.sha512
        )[sum(e[:16]) % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def object_key(fkey: bytes, num: int, gen: int,
               aes: bool = False) -> bytes:
    """Per-object key: md5(file key + obj num (3 LE bytes) + gen (2 LE
    bytes) [+ the AESV2 salt ``sAlT``]), truncated to
    min(len(key)+5, 16)."""
    h = hashlib.md5(
        fkey + struct.pack("<I", num)[:3] + struct.pack("<I", gen)[:2]
        + (b"sAlT" if aes else b"")
    ).digest()
    return h[: min(len(fkey) + 5, 16)]


def decrypt_stream(fkey: bytes, method: str, num: int, gen: int,
                   raw: bytes) -> bytes:
    """Decrypt one stream body under the document's crypt method."""
    if method in ("aes", "aes3"):
        from extractor.aescodec import aes_cbc_decrypt

        if len(raw) < 16:
            raise ValueError("AES stream shorter than its IV")
        key = (fkey if method == "aes3"  # V5 uses the file key directly
               else object_key(fkey, num, gen, aes=True))
        return aes_cbc_decrypt(key, raw[:16], raw[16:])
    return rc4(object_key(fkey, num, gen), raw)


def _parse_crypt_string(src: bytes, key: bytes) -> bytes | None:
    """A hex ``<...>`` or literal ``(...)`` value after /key."""
    m = re.search(rb"/%s\s*(<[0-9A-Fa-f\s]*>|\()" % key, src)
    if not m:
        return None
    if m.group(1).startswith(b"<"):
        hx = re.sub(rb"\s", b"", m.group(1)[1:-1])
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii"))
    # literal string: reuse the content-stream literal parser
    from extractor.pdf import _parse_literal

    body, _ = _parse_literal(src, m.end() - 1)
    return body


def parse_encrypt_dict(payload: bytes):
    """Locate and parse the standard-security-handler /Encrypt dict.

    Returns ``None`` for an unencrypted document, else a dict with
    ``v, r, length, o, u, p, doc_id``.  Raises ``NotImplementedError``
    for non-Standard filters or V >= 4 (AES crypt filters), and
    ``ValueError`` for a structurally broken Encrypt dict."""
    m = re.search(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R", payload)
    if not m:
        return None
    num, gen = int(m.group(1)), int(m.group(2))
    om = re.search(
        rb"(?m)^%d\s+%d\s+obj\b" % (num, gen), payload
    )
    if not om:
        raise ValueError("dangling /Encrypt reference")
    end = payload.find(b"endobj", om.end())
    src = payload[om.end() : end if end >= 0 else len(payload)]
    fm = re.search(rb"/Filter\s*/(\w+)", src)
    if not fm or fm.group(1) != b"Standard":
        raise NotImplementedError(
            "unsupported security handler %r"
            % (fm.group(1).decode("latin1") if fm else None)
        )
    v = int(re.search(rb"/V\s+(\d+)", src).group(1)) if re.search(
        rb"/V\s+(\d+)", src) else 0
    method = "rc4"
    if v == 4:
        cfm = re.search(rb"/CFM\s*/(\w+)", src)
        if not cfm or cfm.group(1) not in (b"AESV2", b"V2"):
            raise NotImplementedError(
                "V4 crypt filter method %r"
                % (cfm.group(1).decode("latin1") if cfm else None)
            )
        method = "aes" if cfm.group(1) == b"AESV2" else "rc4"
    elif v == 5:
        cfm = re.search(rb"/CFM\s*/(\w+)", src)
        if not cfm or cfm.group(1) != b"AESV3":
            raise NotImplementedError(
                "V5 crypt filter method %r"
                % (cfm.group(1).decode("latin1") if cfm else None)
            )
        method = "aes3"
    elif v not in (1, 2):
        raise NotImplementedError("encryption V=%d unsupported" % v)
    r = int(re.search(rb"/R\s+(\d+)", src).group(1))
    if r not in (2, 3, 4, 6):
        raise NotImplementedError("security handler revision %d" % r)
    if (r == 6) != (v == 5):
        raise ValueError("inconsistent /V %d with /R %d" % (v, r))
    if re.search(rb"/EncryptMetadata\s+false", src):
        raise NotImplementedError("EncryptMetadata false key variant")
    # /Length must come from the TOP-LEVEL Encrypt dict.  Acrobat
    # alphabetizes keys, so in real V4 files the /CF crypt-filter
    # sub-dictionary precedes /Length and carries its own '/Length 16'
    # in BYTES (ISO 32000-1 Table 25) — a first-match would read that as
    # a 16-BIT file key and every AESV2/RC4-128 document would fail to
    # decrypt.  Strip the (nested) /CF dict before searching, and treat
    # any sub-40 remnant as the sub-dict's byte count, falling back to
    # the V4 de-facto default of 128 bits (40 for V1/V2 per spec).
    lm = re.search(rb"/Length\s+(\d+)", _strip_cf_dict(src))
    length = int(lm.group(1)) if lm else 40
    if length < 40:
        length = 128 if v == 4 else 40
    pm = re.search(rb"/P\s+(-?\d+)", src)
    if not pm:
        raise ValueError("Encrypt dict missing /P")
    o = _parse_crypt_string(src, b"O")
    u = _parse_crypt_string(src, b"U")
    if o is None or u is None:
        raise ValueError("Encrypt dict missing /O or /U")
    ue = _parse_crypt_string(src, b"UE") if r == 6 else None
    if r == 6 and (ue is None or len(u) < 48 or len(ue) != 32):
        raise ValueError("R6 Encrypt dict missing/short /U or /UE")
    idm = re.search(
        rb"/ID\s*\[\s*<([0-9A-Fa-f]*)>", payload[m.start() - 512 :]
    ) or re.search(rb"/ID\s*\[\s*<([0-9A-Fa-f]*)>", payload)
    if not idm and r != 6:  # R6 key derivation does not use /ID
        raise ValueError("encrypted PDF missing /ID")
    return {
        "v": v, "r": r, "length": length, "o": o, "u": u, "ue": ue,
        "p": int(pm.group(1)), "method": method,
        "doc_id": (
            bytes.fromhex(idm.group(1).decode("ascii")) if idm else b""
        ),
    }


def decryption_key(payload: bytes, user_password: bytes = b""):
    """``(file_key, method)`` for an encrypted document — method is
    ``"rc4"`` or ``"aes"`` — or ``None`` if the document is not
    encrypted.  Raises ``ValueError`` if the (default: empty) user
    password does not verify against /U."""
    enc = parse_encrypt_dict(payload)
    if enc is None:
        return None
    if enc["r"] == 6:
        u = enc["u"]
        if hash_2b(user_password, u[32:40]) != u[:32]:
            raise ValueError("encrypted PDF: password required")
        from extractor.aescodec import aes_cbc_decrypt

        fkey = aes_cbc_decrypt(
            hash_2b(user_password, u[40:48]), bytes(16), enc["ue"],
            pad=False,
        )
        return fkey, enc["method"]
    fkey = file_key(enc["o"], enc["p"], enc["doc_id"],
                    user_password, enc["r"], enc["length"])
    if not verify_user_password(fkey, enc["u"], enc["doc_id"], enc["r"]):
        raise ValueError("encrypted PDF: password required")
    return fkey, enc["method"]


def encrypt_pdf(payload: bytes, owner_password: bytes = b"owner",
                user_password: bytes = b"", revision: int = 3,
                length_bits: int = 128, method: str = "rc4") -> bytes:
    """Encrypt every stream body of *payload* under the standard
    security handler (empty user password readable).  ``method``:
    ``"rc4"`` (V1/V2, in-place — RC4 preserves length) or ``"aes"``
    (V4/R4 AESV2 — streams grow by IV + padding, so bodies are spliced
    back-to-front and each direct /Length patched).  Deterministic:
    /ID is the md5 of the input bytes; AES IVs are md5-derived per
    object (the spec asks for unpredictable IVs; fixtures want
    reproducible ones)."""
    from extractor.pdf import _iter_streams

    if not payload.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")
    if method == "aes":
        revision, length_bits = 4, 128
    p_flags = -3904  # print+copy denied bits cleared; typical value
    doc_id = hashlib.md5(payload).digest()
    if method == "aes3":
        from extractor.aescodec import aes_cbc_encrypt

        revision, length_bits = 6, 256
        # deterministic salts + file key for the fixture (the spec asks
        # for random ones; reproducibility wins here)
        vs_u, ks_u, vs_o, ks_o = (
            hashlib.md5(tag + doc_id).digest()[:8]
            for tag in (b"vu", b"ku", b"vo", b"ko")
        )
        fkey = hashlib.sha256(b"filekey" + doc_id).digest()
        u = hash_2b(user_password, vs_u) + vs_u + ks_u
        ue = aes_cbc_encrypt(
            hash_2b(user_password, ks_u), bytes(16), fkey, pad=False
        )
        o = hash_2b(owner_password, vs_o, u) + vs_o + ks_o
        oe = aes_cbc_encrypt(
            hash_2b(owner_password, ks_o, u), bytes(16), fkey,
            pad=False,
        )
        perms = aes_cbc_encrypt(
            fkey, bytes(16),
            struct.pack("<i", p_flags) + b"\xff\xff\xff\xffTadb"
            + hashlib.md5(b"perms" + doc_id).digest()[:4],
            pad=False,
        )
    else:
        o = compute_o(owner_password, user_password, revision,
                      length_bits)
        fkey = file_key(o, p_flags, doc_id, user_password, revision,
                        length_bits)
        u = compute_u(fkey, doc_id, revision)
    out = bytearray(payload)
    for dict_bytes, body, num, gen, at in reversed(
        list(_iter_streams(payload))
    ):
        if method in ("aes", "aes3"):
            from extractor.aescodec import aes_cbc_encrypt

            iv = hashlib.md5(
                b"iv" + struct.pack("<II", num, gen) + doc_id
            ).digest()
            key = (fkey if method == "aes3"
                   else object_key(fkey, num, gen, aes=True))
            enc = iv + aes_cbc_encrypt(key, iv, body)
            out[at : at + len(body)] = enc
            # patch this stream's direct /Length (before `at`, so the
            # body splice above did not move it)
            ls = bytes(out).rfind(b"/Length", max(0, at - 4096), at)
            lm = re.match(rb"/Length\s+(\d+)", bytes(out)[ls : ls + 24])
            if ls < 0 or not lm:
                raise ValueError("stream without a direct /Length")
            out[ls + lm.start(1) : ls + lm.end(1)] = (
                str(len(enc)).encode()
            )
        else:
            out[at : at + len(body)] = rc4(
                object_key(fkey, num, gen), body
            )
    # append the Encrypt object ahead of the xref (back-to-front AES
    # splices kept earlier offsets valid; RC4 is length-preserving)
    xref_at = bytes(out).rfind(b"\nxref\n")
    sm = re.search(rb"/Size\s+(\d+)", bytes(out))
    enc_num = int(sm.group(1)) if sm else 1000
    extra_entries = b""
    if method == "aes":
        handler = (
            b"/V 4 /R 4 /Length 128 /CF << /StdCF << /CFM /AESV2"
            b" /AuthEvent /DocOpen /Length 16 >> >> /StmF /StdCF"
            b" /StrF /StdCF"
        )
    elif method == "aes3":
        handler = (
            b"/V 5 /R 6 /Length 256 /CF << /StdCF << /CFM /AESV3"
            b" /AuthEvent /DocOpen /Length 32 >> >> /StmF /StdCF"
            b" /StrF /StdCF"
        )
        extra_entries = b" /UE <%s> /OE <%s> /Perms <%s>" % (
            ue.hex().encode(), oe.hex().encode(), perms.hex().encode()
        )
    else:
        handler = b"/V %d /R %d /Length %d" % (
            1 if length_bits == 40 else 2, revision, length_bits,
        )
    obj = (
        b"%d 0 obj\n<< /Filter /Standard %s"
        b" /P %d /O <%s> /U <%s>%s >>\nendobj\n"
        % (enc_num, handler, p_flags,
           o.hex().encode(), u.hex().encode(), extra_entries)
    )
    if xref_at < 0:
        raise ValueError("no xref to anchor the Encrypt object")
    out[xref_at + 1 : xref_at + 1] = obj
    # trailer additions + startxref fixup
    blob = bytes(out)
    tm = re.search(rb"trailer\s*<<", blob)
    if not tm:
        raise ValueError("no trailer dict")
    extra = b" /Encrypt %d 0 R /ID [<%s> <%s>]" % (
        enc_num, doc_id.hex().encode(), doc_id.hex().encode()
    )
    out[tm.end() : tm.end()] = extra
    blob = bytes(out)
    sx = re.search(rb"startxref\s*\n(\d+)", blob)
    if sx:
        fixed = str(int(sx.group(1)) + len(obj)).encode()
        out[sx.start(1) : sx.end(1)] = fixed
    return bytes(out)
